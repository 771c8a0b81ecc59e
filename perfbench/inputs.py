"""Seeded benchmark inputs, cached as parquet under ``data/perfbench/``.

Both corpora come from the program's own synthetic generator
(:mod:`nemo_curator_spark.synth`), so the program under test only ever sees
generated rows:

* ``crawl`` is the default synthetic crawl, built chunk by chunk as
  ``synth.ensure_web_pages_parquet`` does (2000-row chunks, each with its
  own generator seed) but without a Spark session, so generation never
  starts a JVM. Chunk ``i`` of benchmark seed ``s`` uses ``s * 1000 + i``
  (modulo 2**32, numpy's seed range), so neighbouring benchmark seeds share
  no chunk and any integer seed, negative or huge, is accepted.
* ``pii_dense`` is long English pages from the same sentence generator with
  PII paragraphs (emails, phones, IPv4/IPv6 addresses, lexicon tokens)
  injected before the html is rendered; extraction recomputes ``text`` from
  that html, so the PII reaches the scrub through the real extraction path.

A corpus is a directory of parquet files plus ``props.json`` with its
measured properties; the directory name keys the cache by kind, seed and
size, and a finished corpus is renamed into place so a crash never leaves a
half-written cache entry behind.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

CHUNK = 2000
N_FILES = 8
PII_SHARE = 0.85
PII_DENSE_WORDS = 360  # ~2600 chars, six times the crawl's median page
SEED_RANGE = 2**32  # numpy.random.RandomState accepts [0, 2**32)


def _schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )


def crawl_frame(seed: int, n: int):
    """The default synthetic crawl: ~80% English with ~18% dirty-rule rows,
    zh/ja/th/pt rows and Zipf-skewed hosts. ~2% of rows copy an earlier
    row's text; with the fixed dirty-rule texts and the short CJK pages
    built from four sentences, about a fifth of all texts repeat."""
    import pandas as pd

    from nemo_curator_spark import synth

    chunks = [
        synth.generate_web_pages(
            min(CHUNK, n - off), seed=(seed * 1000 + i) % SEED_RANGE, offset=off
        )
        for i, off in enumerate(range(0, n, CHUNK))
    ]
    return pd.concat(chunks, ignore_index=True)


def _pii_paragraph(rng: np.random.RandomState) -> str:
    user = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6))
    email = f"{user}.{int(rng.randint(100))}@mail{int(rng.randint(50))}.example.org"
    phone = "+1 ({}) {}-{}".format(
        rng.randint(200, 999), rng.randint(200, 999), rng.randint(1000, 9999)
    )
    ipv4 = ".".join(str(int(x)) for x in rng.randint(1, 255, 4))
    ipv6 = ":".join(f"{int(x):x}" for x in rng.randint(1, 0xFFFF, 8))
    slur = ("badword1", "badword2", "badword3")[int(rng.randint(3))]
    return (
        f"Write to {email} or call {phone} before noon.\n"
        f"The server at {ipv4} and the node {ipv6} answered.\n"
        f"Someone wrote {slur} in the comments."
    )


def pii_dense_frame(seed: int, n: int):
    """Long English pages (several times the crawl's default length); most
    carry one to three PII paragraphs, injected into the html body."""
    from datetime import datetime, timedelta, timezone

    import pandas as pd

    from nemo_curator_spark import synth

    rng = np.random.RandomState(seed % SEED_RANGE)
    hosts = np.minimum(rng.zipf(1.3, size=n) - 1, 999)
    base_ts = datetime(2024, 3, 1, tzinfo=timezone.utc)
    rows = []
    for i in range(n):
        paras = synth._clean_doc(rng, PII_DENSE_WORDS).split("\n\n")
        if rng.rand() < PII_SHARE:
            for _ in range(int(rng.randint(1, 4))):
                paras.insert(int(rng.randint(len(paras) + 1)), _pii_paragraph(rng))
        text = "\n\n".join(paras)
        title = f"Page {i}"
        rows.append(
            (
                f"https://host{hosts[i]}.example.com/pii/{i}",
                base_ts + timedelta(seconds=i),
                synth._render_html(text, title, "utf-8"),
                text,
                "en",
            )
        )
    return pd.DataFrame(rows, columns=_schema().names)


FRAMES = {"crawl": crawl_frame, "pii_dense": pii_dense_frame}


def measure_props(pdf) -> dict:
    """Input properties later claims can cite: median text length, share of
    docs with any PII match (the scrub's own DuckDB patterns), exact-
    duplicate share and the generator's language mix."""
    import duckdb

    from nemo_curator_spark.operators import pii

    count_exprs, _ = pii.duck_scrub_sql("text")
    con = duckdb.connect()
    try:
        con.register("t", pdf[["text"]])
        sums = " + ".join(e.rsplit(" AS ", 1)[0] for e in count_exprs)
        pii_share = con.execute(
            f"SELECT avg(CASE WHEN ({sums}) > 0 THEN 1.0 ELSE 0.0 END) FROM t"
        ).fetchone()[0]
    finally:
        con.close()
    n = len(pdf)
    mix = pdf["lang"].value_counts(normalize=True).sort_index()
    return {
        "docs": n,
        "median_text_chars": float(pdf["text"].str.len().median()),
        "pii_doc_share": round(float(pii_share), 4),
        "exact_dup_share": round(1.0 - pdf["text"].nunique() / n, 4),
        "lang_mix": {k: round(float(v), 4) for k, v in mix.items()},
    }


def ensure(root: str, kind: str, seed: int, n: int) -> tuple[str, dict]:
    """Return (corpus dir, props), generating the corpus once.

    The corpus dir holds ``pages/`` (the CLI input: the web_pages schema
    only) and ``ids/`` (``doc_id, url, text`` for dedup, ``doc_id`` being
    the generation order), each split over ``N_FILES`` files so scans get
    one task per core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(root, f"{kind}_s{seed}_n{n}")
    props_path = os.path.join(path, "props.json")
    if os.path.exists(props_path):
        with open(props_path) as f:
            return path, json.load(f)

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    pdf = FRAMES[kind](seed, n)
    table = pa.Table.from_pandas(pdf, schema=_schema(), preserve_index=False)
    per_file = -(-n // N_FILES)
    ids = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "url": table.column("url"),
            "text": table.column("text"),
        }
    )
    for sub, tbl in (("pages", table), ("ids", ids)):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
        for k in range(N_FILES):
            part = tbl.slice(k * per_file, per_file)
            if part.num_rows:
                pq.write_table(part, os.path.join(tmp, sub, f"part-{k:03d}.parquet"))
    props = measure_props(pdf)
    with open(os.path.join(tmp, "props.json"), "w") as f:
        json.dump(props, f, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path, props

