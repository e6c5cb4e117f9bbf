"""Alternating A/B bench harness (round 16).

Host noise here is BURSTY (BENCH noise_factor 1.5-1.9 with whole consecutive
query blocks inflated 2-5x while other blocks sit at 1.00x), so back-to-back
single-variant timings are unreliable. This harness times VARIANTS of the
same query interleaved (A,B,C,A,B,C,...) in one session so every variant
samples the same noise windows; the pairwise ratio of medians is then
meaningful even when the absolute numbers are inflated.

Usage:
    python tools/ab_bench.py <variants_module> [reps] [sf_dir]

``variants_module`` is a python module path exposing
``VARIANTS: dict[str, Callable[[SparkSession, str], DataFrame]]`` (the
fuzzy_decontaminate kernel variants recorded in OPTIMIZATION_r16.md,
"Arrow/numpy portable signature kernel", were timed this way).
Each callable is constructed fresh per rep and materialized through the noop
sink (guide §1.4). One warmup rep per variant at sf0.001 fills the codegen
cache before anything is timed.
"""
from __future__ import annotations

import importlib
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from recsys_pipeline_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    mod_name = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    mod = importlib.import_module(mod_name)
    variants = mod.VARIANTS

    spark = get_spark("ab-bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_dir = "/root/testdata/sf0.001"
    for name, fn in variants.items():
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        materialize(fn(spark, warm_dir))

    def steal_jiffies() -> int:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])

    times: dict[str, list[float]] = {n: [] for n in variants}
    steals: dict[str, list[int]] = {n: [] for n in variants}
    import gc
    for rep in range(reps):
        # Alternate the variant order per rep (r17): a FIXED order gave every
        # variant a systematic neighbour (GC debt, block-manager pressure from
        # whoever ran before it), which flipped the sign of one bpe_train
        # experiment — the span-2 "win" vanished under order alternation.
        order = list(variants) if rep % 2 == 0 else list(variants)[::-1]
        for name in order:
            fn = variants[name]
            spark.sparkContext.setJobDescription(f"{name}#{rep}")
            s0 = steal_jiffies()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            materialize(df)
            dt = time.perf_counter() - t0
            del df
            gc.collect()
            times[name].append(dt)
            steals[name].append(steal_jiffies() - s0)
            print(f"[rep {rep}] {name}: {dt:.3f}s (steal {steals[name][-1]}j)", flush=True)

    print("\n=== stats (min is the quiet-host estimate under bursty steal) ===")
    meds = {n: statistics.median(ts) for n, ts in times.items()}
    mins = {n: min(ts) for n, ts in times.items()}
    base = next(iter(mins.values()))
    for n in times:
        print(
            f"{n}: min {mins[n]:.3f}s ({mins[n] / base:.2f}x vs first) "
            f"median {meds[n]:.3f}s  all={[round(t, 2) for t in times[n]]} "
            f"steal={steals[n]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
