"""Output checks, recomputed with DuckDB from what the program wrote.

Each check returns ``(failures, stats)``: a list of failure messages (empty
when the output is right) and the counts the per-layer trace reports.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb


def digest(rows) -> str:
    """Order-independent digest of rows: sha256 over their sorted text."""
    h = hashlib.sha256()
    for line in sorted("\t".join(map(str, r)) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def committed(out_dir: str) -> tuple[set[int], set[str]]:
    """Source ids and run ids named by the output's snapshot files."""
    ids: set[int] = set()
    runs: set[str] = set()
    for name in glob.glob(os.path.join(out_dir, "_snapshots", "*.json")):
        with open(name) as f:
            snap = json.load(f)
        ids.update(int(s) for s in snap["source_ids"])
        runs.add(snap["run_id"])
    return ids, runs


def _q(path: str) -> str:
    return "'" + path.replace("'", "''") + "'"


def curate(input_dir: str, out_dir: str, n_docs: int, pinned: str | None) -> tuple[list[str], dict]:
    """Checks on one committed CLI output.

    * every input URL appears exactly once in the committed data;
    * lineage ``input_count`` sums to the input size;
    * ``text_scrubbed`` and every ``scrub_*`` column equal
      ``pii.duck_scrub_sql`` recomputed over the output ``text``;
    * the digest of ``(url, keep, drop_reason)`` equals ``pinned`` when the
      seed has a pinned digest."""
    from nemo_curator_spark.operators import pii

    fails: list[str] = []
    ids, runs = committed(out_dir)
    if not ids or not runs:
        return ["no snapshot commits a source bucket"], {}
    con = duckdb.connect()
    try:
        id_list = ",".join(str(i) for i in sorted(ids))
        con.execute(
            "CREATE VIEW data AS SELECT * FROM read_parquet("
            f"{_q(os.path.join(out_dir, 'data', '*', '*.parquet'))}, "
            f"hive_partitioning = true) WHERE source_id IN ({id_list})"
        )
        con.execute(
            "CREATE VIEW input AS SELECT url FROM read_parquet("
            f"{_q(os.path.join(input_dir, '*.parquet'))})"
        )
        rows, distinct = con.execute(
            "SELECT count(*), count(DISTINCT url) FROM data"
        ).fetchone()
        missing = con.execute(
            "SELECT count(*) FROM (SELECT url FROM input EXCEPT SELECT url FROM data)"
        ).fetchone()[0]
        if not rows == distinct == n_docs or missing:
            fails.append(
                f"urls: {rows} rows, {distinct} distinct, {missing} input urls "
                f"missing, expected each of {n_docs} once"
            )

        lin = [
            _q(os.path.join(out_dir, "lineage", r, "*.parquet"))
            for r in sorted(runs)
        ]
        lineage_in = con.execute(
            f"SELECT sum(input_count) FROM read_parquet([{', '.join(lin)}])"
        ).fetchone()[0]
        if lineage_in != n_docs:
            fails.append(f"lineage input_count sums to {lineage_in}, not {n_docs}")

        names = [r.name for r in pii.default_rules()]
        count_exprs, scrubbed = pii.duck_scrub_sql("text")
        expected = [e.rsplit(" AS ", 1)[0] + f" AS exp_{n}" for n, e in zip(names, count_exprs)]
        differs = " OR ".join(
            [f"scrub_{n} IS DISTINCT FROM exp_{n}" for n in names]
            + ["text_scrubbed IS DISTINCT FROM exp_text"]
        )
        bad_scrub = con.execute(
            f"SELECT count(*) FROM (SELECT *, {', '.join(expected)}, "
            f"{scrubbed} AS exp_text FROM data) WHERE {differs}"
        ).fetchone()[0]
        if bad_scrub:
            fails.append(f"{bad_scrub} rows differ from the DuckDB scrub oracle")

        any_match = " + ".join(f"scrub_{n}" for n in names)
        kept, langid_dropped, matched, replacements = con.execute(
            "SELECT sum(CAST(keep AS INTEGER)), "
            "count(*) FILTER (WHERE drop_reason = 'langid'), "
            f"count(*) FILTER (WHERE {any_match} > 0), sum({any_match}) FROM data"
        ).fetchone()
        got = digest(
            con.execute("SELECT url, keep, drop_reason FROM data").fetchall()
        )
    finally:
        con.close()
    if pinned is not None and got != pinned:
        fails.append(f"(url, keep, drop_reason) digest {got[:12]} != pinned {pinned[:12]}")
    stats = {
        "digest": got,
        "kept": int(kept or 0),
        "langid_dropped": int(langid_dropped),
        "pii_docs": int(matched),
        "pii_replacements": int(replacements or 0),
        "buckets_committed": len(ids),
    }
    return fails, stats


def dedup(ids_dir: str, rep_dir: str, cc: dict, pinned: str | None) -> tuple[list[str], dict]:
    """Checks on one dedup repetition: connected components converged, the
    exact removal ids equal a DuckDB group-by over the input, and the digest
    of both removal lists equals ``pinned`` when the seed has one."""
    fails: list[str] = []
    if not cc.get("converged"):
        fails.append(f"connected components did not converge: {cc}")
    con = duckdb.connect()
    try:
        exact = {
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM read_parquet("
                f"{_q(os.path.join(rep_dir, 'exact', '*.parquet'))})"
            ).fetchall()
        }
        oracle = {
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM (SELECT doc_id, row_number() OVER "
                "(PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM read_parquet("
                f"{_q(os.path.join(ids_dir, '*.parquet'))})) WHERE rn > 1"
            ).fetchall()
        }
        fuzzy = [
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM read_parquet("
                f"{_q(os.path.join(rep_dir, 'fuzzy', '*.parquet'))})"
            ).fetchall()
        ]
    finally:
        con.close()
    if exact != oracle:
        fails.append(
            f"exact removal ids: {len(exact ^ oracle)} differ from the DuckDB group-by"
        )
    got = digest([("exact", i) for i in exact] + [("fuzzy", i) for i in fuzzy])
    if pinned is not None and got != pinned:
        fails.append(f"removal-id digest {got[:12]} != pinned {pinned[:12]}")
    return fails, {"digest": got, "removed_ids": len(exact | set(fuzzy))}
