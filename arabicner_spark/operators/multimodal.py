"""Multimodal column plumbing: image/audio/video as opaque ``binary``
payloads with typed metadata, resized through iterator-style
``mapInPandas`` (the same Arrow-batch execution shape as the NER
stage).

The container has no image/audio codecs, so the actual decode is
STUBBED: ``decode_stub=True`` (default) derives deterministic fake
dimensions from the payload bytes; ``decode_stub=False`` raises
NotImplementedError at the decode call site — the Spark-side plumbing
(schema, batch iteration, partitioning, UDF signature) is real and
tested either way, and a real decoder drops into ``_decode_one``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame


def _decode_one(payload: bytes, modality: str, stub: bool):
    """Decode an asset -> (width, height).

    Real implementation would dispatch to PIL/librosa/ffmpeg by
    modality; the deterministic stub derives the dimensions from the
    bytes so tests are stable without codecs.
    """
    if not stub:
        raise NotImplementedError(
            "real decoders (PIL/librosa/ffmpeg) are not available in this "
            "container; run with decode_stub=True or install codecs"
        )
    digest = hashlib.md5(payload or b"").digest()
    return 16 + digest[0] % 64, 16 + digest[1] % 64


RESIZE_SCHEMA = (
    "asset_id string, modality string, src_width int, src_height int, "
    "dst_width int, dst_height int, resized_md5 string"
)


def resize_assets(
    assets: DataFrame, max_side: int = 32, decode_stub: bool = True
) -> DataFrame:
    """Aspect-preserving resize plumbing over ``mapInPandas``.

    Source dims come from the (stubbed) decode; the scale factor,
    target dims, and the resized payload are computed per asset inside
    the Arrow batch loop.  The stub 'resample' is a deterministic
    byte-stride downsample of the payload so tests pin real bytes
    without codecs; a real implementation swaps ``_decode_one`` + the
    resample line for PIL/ffmpeg calls and keeps everything else.
    """
    pruned = assets.select("asset_id", "modality", "payload")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "asset_id", "modality", "src_width", "src_height",
                "dst_width", "dst_height", "resized_md5",
            )}
            for aid, mod, payload in zip(
                pdf["asset_id"], pdf["modality"], pdf["payload"]
            ):
                payload = bytes(payload) if payload is not None else b""
                w, h = _decode_one(payload, mod, decode_stub)
                scale = min(1.0, max_side / max(w, h))
                dw, dh = max(1, int(w * scale)), max(1, int(h * scale))
                stride = max(1, len(payload) // max(dw * dh, 1)) if payload else 1
                resized = payload[::stride]
                rows["asset_id"].append(aid)
                rows["modality"].append(mod)
                rows["src_width"].append(w)
                rows["src_height"].append(h)
                rows["dst_width"].append(dw)
                rows["dst_height"].append(dh)
                rows["resized_md5"].append(hashlib.md5(resized).hexdigest())
            yield pd.DataFrame(rows).astype(
                {c: "int32" for c in ("src_width", "src_height", "dst_width", "dst_height")}
            )

    return pruned.mapInPandas(batches, schema=RESIZE_SCHEMA)
