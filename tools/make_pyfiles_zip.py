"""Build arabicner_spark.zip for spark-submit --py-files.

The package is pure Python, so deployment is:

    python tools/make_pyfiles_zip.py
    spark-submit --py-files arabicner_spark.zip \
        --master <cluster> arabicner_spark/plans/run.py \
        --input <iceberg-or-parquet transcripts> --output <kg root>

The zip is the one the package ships to interactive sessions
(``arabicner_spark.session.package_zip``): rebuilt only when stale.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arabicner_spark.session import package_zip

if __name__ == "__main__":
    print(package_zip())
