"""Per-layer spans of the curate pipeline, run as a subprocess of ``run.py``
in the traced run of a curate workload.

    python3 perfbench/curate_layers.py --corpus DIR --result FILE

Each prefix of ``webpages.curate``'s stages is built by calling that
stage's public function, as ``curate`` itself does, and written to the noop
sink, so every column it adds is computed and nothing is pruned. A layer's
marginal cost is prefix(i) - prefix(i-1). Every prefix is first run once
over one input file so that plan compilation is not charged to the timed
run over the whole corpus (one run each keeps a traced run, which also
launches the CLI, well inside its time limit). ``perplexity.train_s`` is
the wall span of the blocking ``train_per_language`` call, with the CLI's
arguments.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def prefixes(df, models, cfg) -> list[tuple[str, object]]:
    """(layer metric, cumulative frame) in ``curate``'s stage order."""
    from pyspark.sql import functions as F

    from nemo_curator_spark.functions import heuristics as H
    from nemo_curator_spark.operators import extraction, pii, quality
    from nemo_curator_spark.operators import langid as langid_mod
    from nemo_curator_spark.operators import perplexity as ppl_mod
    from nemo_curator_spark.pipeline import chain, webpages

    base = webpages.add_source_id(df, "url", cfg.n_source_buckets)
    ext = base.withColumn(
        "text", F.coalesce(extraction.extract_text(F.col("html")), F.col("text"))
    ).drop("html")
    lid = langid_mod.add_langid(ext, "text", "lang_pred", "lang_score")
    n_salt = max(cfg.salt_partitions or 0, 256)
    rep = lid.repartition(
        cfg.salt_partitions, F.col("lang_pred"),
        F.pmod(F.xxhash64("text"), F.lit(n_salt)),
    )
    wl = rep.withColumn("_wl", H.word_line_batch(F.col("text")))
    ch = chain.add_labels(wl, "text", keep_col="_hk", reason_col="_hr", wl_col="_wl")
    pp = ppl_mod.score_perplexity(ch, models, "text", "lang_pred", out_col="ppl", bucket=False)
    qq = pp.withColumn("quality_score", quality.lexical_quality_from_batch(F.col("_wl")))
    sc = pii.scrub(qq, "text", out_col="text_scrubbed")
    return [
        ("extraction.marginal_s", ext),
        ("langid.marginal_s", lid),
        ("webpages.exchange_marginal_s", rep),
        ("heuristics.word_line_marginal_s", wl),
        ("chain.marginal_s", ch),
        ("perplexity.score_marginal_s", pp),
        ("quality.marginal_s", qq),
        ("pii.marginal_s", sc),
    ]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from nemo_curator_spark.operators import perplexity as ppl_mod
    from nemo_curator_spark.pipeline import webpages
    from nemo_curator_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(app_name="perfbench_curate_layers", master=f"local[{cores}]")
    pages = os.path.join(args.corpus, "pages")
    df = spark.read.parquet(pages)
    head = spark.read.parquet(sorted(glob.glob(os.path.join(pages, "*.parquet")))[0])

    t0 = time.monotonic()
    models = ppl_mod.train_per_language(df, max_docs_per_lang=5000)
    out = {"perplexity.train_s": time.monotonic() - t0}
    # the CLI's config: salt partitions = 2 x cores
    cfg = webpages.CurationConfig(salt_partitions=cores * 2)

    def noop(frame) -> float:
        t = time.monotonic()
        frame.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    for _, frame in prefixes(head, models, cfg):
        noop(frame)
    prev = 0.0
    for name, frame in prefixes(df, models, cfg):
        t = noop(frame)
        out[name] = t - prev
        prev = t
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
