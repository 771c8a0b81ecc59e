"""The ``dedup_crawl`` job: one Spark session calling the public
``operators.dedup`` functions, run as a subprocess of ``run.py``.

    python3 perfbench/dedup_job.py --corpus DIR --out DIR --result FILE \
        [--reps 3] [--layers]

Setup (session start plus an untimed warm-up on a small slice) ends at the
monotonic time ``setup_end``. Each timed repetition then calls
``exact_duplicate_ids`` and ``fuzzy_duplicate_ids`` over the whole corpus
and writes both removal-id lists to parquet; its time runs from the first
call until both lists are on disk. Spark jobs run in the job groups
``warmup``, ``timed`` and ``layers``, so a traced run can tell them apart
in the event log. ``--layers`` adds the per-layer spans: cumulative
noop-sink prefixes
MinHash -> LSH -> Jaccard (each the faster of two runs), connected
components alone over the verified edges, and the layer counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NUM_PERMS = 64
NUM_BANDS = 16
THRESHOLD = 0.8
WARM_DOCS = 500


def run_once(df, out: str) -> dict:
    from nemo_curator_spark.operators import dedup

    t0 = time.monotonic()
    dedup.exact_duplicate_ids(df, "text", "doc_id").write.parquet(
        os.path.join(out, "exact")
    )
    cc: dict = {}
    dedup.fuzzy_duplicate_ids(
        df, "doc_id", "text", num_perms=NUM_PERMS, num_bands=NUM_BANDS,
        jaccard_threshold=THRESHOLD, cc_metrics=cc,
    ).write.parquet(os.path.join(out, "fuzzy"))
    return {"wall_s": time.monotonic() - t0, "cc": cc}


def layers(df) -> dict:
    """Per-layer spans around the dedup module's public functions."""
    from pyspark.sql import functions as F

    from nemo_curator_spark.operators import dedup

    def noop(frame) -> float:
        """Faster of two runs to the noop sink (the first also compiles)."""
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            frame.write.format("noop").mode("overwrite").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return best

    out: dict = {}
    out["dedup.exact_s"] = noop(dedup.exact_duplicate_ids(df, "text", "doc_id"))
    sigs = dedup.add_minhash(df, "text", NUM_PERMS, 24, 42)
    t_min = noop(sigs.select("doc_id", "minhash"))
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", "minhash", NUM_BANDS, NUM_PERMS)
    t_lsh = noop(pairs)
    verified = dedup.jaccard_ngram(df, pairs, "doc_id", "text").where(
        F.col("jaccard") >= THRESHOLD
    )
    t_jac = noop(verified)
    out["dedup.minhash_marginal_s"] = t_min
    out["dedup.lsh_marginal_s"] = t_lsh - t_min
    out["dedup.jaccard_marginal_s"] = t_jac - t_lsh

    pairs_ck = pairs.localCheckpoint()
    edges = verified.select("a", "b").localCheckpoint()
    n_pairs, n_edges = pairs_ck.count(), edges.count()
    cc: dict = {}
    t0 = time.monotonic()
    dedup.connected_components(edges, strict=False, metrics=cc)
    out["dedup.cc_s"] = time.monotonic() - t0
    out["dedup.candidate_pairs"] = n_pairs
    out["dedup.jaccard_pass_ratio"] = n_edges / n_pairs if n_pairs else 0.0
    out["dedup.cc_rounds"] = cc["rounds"]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--layers", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from nemo_curator_spark.session import get_spark

    cores = os.environ["SPARK_GRAFT_CPUS"]
    spark = get_spark(app_name="perfbench_dedup", master=f"local[{cores}]")
    sc = spark.sparkContext
    df = spark.read.parquet(os.path.join(args.corpus, "ids"))
    sc.setJobGroup("warmup", "untimed warm-up")
    run_once(df.where(F.col("doc_id") < WARM_DOCS), os.path.join(args.out, "warm"))
    result: dict = {"setup_end": time.monotonic(), "reps": []}
    sc.setJobGroup("timed", "timed repetitions")
    for r in range(args.reps):
        result["reps"].append(run_once(df, os.path.join(args.out, f"rep{r}")))
    if args.layers:
        sc.setJobGroup("layers", "per-layer spans")
        result["layers"] = layers(df)
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
