"""Receipt: batched vs serial BPE merge-loop throughput (s/merge) on
the 2M-word synthetic Zipf-ish vocab from the r5 scale receipt.

The serial loop runs one full Spark job per merge; train_bpe_batched
amortizes round latency over up to --batch greedy-safe merges per
round, with the SAME merge sequence (property-tested in
tests/test_bpe.py; --full-parity re-proves it here end-to-end).

Regimes (measured): the Zipf HEAD is chain-bound — each hot word's
internal merges create the next top pair, a true data dependency no
exact-parity batching can parallelize (fill ~1-2).  The TAIL (which
dominates a real 30k-merge training) flattens: fills reach 8-16 and
amortized s/merge drops ~5x below serial.  The receipt reports both
windows plus a serial-continuation probe at the same depth, so the
baseline is depth-matched (serial merges also get cheaper as symbols
coalesce).

Usage: python tools/bench_bpe_batch.py [--words 2000000] [--merges 400]
       [--batch 16] [--full-parity]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from arabicner_spark.operators import bpe
from arabicner_spark.session import session

SYLLABLES = [
    "ba", "be", "bi", "bo", "bu", "da", "de", "di", "do", "du",
    "ka", "ke", "ki", "ko", "ku", "la", "le", "li", "lo", "lu",
    "ma", "me", "mi", "mo", "mu", "na", "ne", "ni", "no", "nu",
    "ra", "re", "ri", "ro", "ru", "sa", "se", "si", "so", "su",
    "ta", "te", "ti", "to", "tu", "wa", "we", "wi", "wo", "wu",
]


def synth_words(spark, n: int):
    """n distinct words: 2-5 hash-chosen syllables + a base-36 distinct
    suffix, freq Zipf-ish in the word id — natural-text-like pair
    distribution (many frequent pairs across distinct letter sets)."""
    syl = F.array(*[F.lit(s) for s in SYLLABLES])
    df = spark.range(n).select(F.col("id"))
    k = (F.xxhash64("id") % 4 + 4) % 4 + 2  # 2..5 syllables
    body = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.element_at(
                syl, ((F.xxhash64(F.col("id"), i) % 50 + 50) % 50 + 1).cast("int")
            ),
        ),
    )
    word = F.concat(body, F.lit("x"), F.conv(F.col("id").cast("string"), 10, 36))
    freq = F.greatest(F.lit(1), (F.lit(2_000_000) / (F.col("id") + 1)).cast("long"))
    return df.select(word.alias("word"), freq.alias("freq"))


def batched_with_windows(words, n_merges, batch):
    """THE production loop (train_bpe_batched: incremental counts
    state, touched-word-only fold) with its on_round receipt hook;
    returns (merges, final syms, fills, round_times)."""
    fills, times = [], []

    def rec(fill, secs):
        fills.append(fill)
        times.append(secs)

    merges, syms = bpe.train_bpe_batched(
        words, n_merges, min_count=2, batch=batch, on_round=rec
    )
    return merges, syms, fills, times


def window_stats(fills, times, lo, hi):
    tsum = nsum = rounds = 0
    c = 0
    for f, t in zip(fills, times):
        if lo <= c < hi:
            tsum += t
            nsum += f
            rounds += 1
        c += f
    return nsum, rounds, tsum


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--words", type=int, default=2_000_000)
    ap.add_argument("--merges", type=int, default=400)
    ap.add_argument("--serial-merges", type=int, default=10)
    ap.add_argument("--batch", type=int, default=16)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument(
        "--full-parity",
        action="store_true",
        help="also run the FULL serial sequence and assert exact match "
        "(slow — use at small --words)",
    )
    args = ap.parse_args()

    # shuffles as wide as the vocabulary's repartition below
    spark = session(f"local[{args.cores}]", shuffle_partitions=args.cores)

    words = synth_words(spark, args.words).repartition(args.cores).localCheckpoint(
        eager=True
    )
    print(f"words: {words.count():,}")

    t0 = time.time()
    merges, syms, fills, times = batched_with_windows(
        words, args.merges, args.batch
    )
    t_batch = time.time() - t0
    depth = len(merges)
    print(
        f"batched: {depth} merges in {t_batch:.1f}s "
        f"= {t_batch / max(1, depth):.2f} s/merge overall (batch={args.batch})"
    )
    head_hi = min(100, depth)
    for lo, hi, tag in [
        (0, head_hi, "head"),
        (head_hi, depth, "tail"),
    ]:
        n, r, t = window_stats(fills, times, lo, hi)
        if n:
            print(
                f"  {tag} merges[{lo}:{hi}]: {n} merges / {r} rounds "
                f"({n / r:.1f} fill) in {t:.0f}s = {t / n:.2f} s/merge"
            )

    # depth-matched serial baseline: continue serially from the batched
    # end state (serial merges get cheaper with depth too)
    t0 = time.time()
    n_cont = 0
    cont = syms
    for _ in range(12):
        top = (
            bpe.symbol_pair_counts(cont)
            .orderBy(F.desc("n"), "pair")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        x, y = top[0]["pair"].split(bpe.PAIR_SEP, 1)
        cont = cont.withColumn(
            "syms", bpe.apply_merge(F.col("syms"), x, y)
        ).localCheckpoint(eager=True)
        n_cont += 1
    s_depth = (time.time() - t0) / max(1, n_cont)
    print(f"serial continuation at depth {depth}: {s_depth:.2f} s/merge")

    t0 = time.time()
    serial_head, _ = bpe.train_bpe(words, n_merges=args.serial_merges)
    s_head = (time.time() - t0) / max(1, len(serial_head))
    print(f"serial head ({len(serial_head)} merges): {s_head:.2f} s/merge")
    n = min(len(serial_head), depth)
    assert merges[:n] == serial_head[:n], "merge-sequence divergence at head"
    print(f"head parity over {n} merges: OK")

    n_t, r_t, t_t = window_stats(fills, times, head_hi, depth)
    if n_t:
        print(
            f"tail amortized speedup vs depth-matched serial: "
            f"{s_depth / (t_t / n_t):.1f}x (target >= 5x at M=16)"
        )

    if args.full_parity:
        t0 = time.time()
        serial_all, serial_syms = bpe.train_bpe(words, n_merges=depth)
        print(f"full serial: {time.time() - t0:.0f}s")
        assert merges == serial_all, "full merge-sequence divergence"
        a = {r["word"]: list(r["syms"]) for r in syms.collect()}
        b = {r["word"]: list(r["syms"]) for r in serial_syms.collect()}
        assert a == b, "final symbolization divergence"
        print(f"FULL parity over {depth} merges + final states: OK")


if __name__ == "__main__":
    main()
