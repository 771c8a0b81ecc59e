"""The output checks catch a corrupted output.

A small committed output in the CLI's layout is built with DuckDB's scrub
oracle, so the clean copy passes every check; one flipped ``keep`` and one
altered ``text_scrubbed`` row must each fail the run.
"""

import json
import os
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
from nemo_curator_spark.operators import pii  # noqa: E402

TEXTS = [
    "Write to ann.lee@mail.example.org today.",
    "The server at 10.0.0.7 answered badword1 twice.",
    "Call +1 (555) 123-4567 before noon.",
    "Nothing to scrub here at all.",
    "node fe80:0:0:0:202:b3ff:fe1e:8329 is up",
    "plain words only",
]


def _scrubbed(texts: list[str]) -> pd.DataFrame:
    count_exprs, scrubbed = pii.duck_scrub_sql("text")
    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame({"text": texts}))
        return con.execute(
            f"SELECT text, {', '.join(count_exprs)}, {scrubbed} AS text_scrubbed FROM t"
        ).df()
    finally:
        con.close()


def _write_output(root: str, data: pd.DataFrame) -> tuple[str, str]:
    pages = os.path.join(root, "pages")
    os.makedirs(pages)
    data[["url"]].to_parquet(os.path.join(pages, "part-000.parquet"))
    out = os.path.join(root, "out")
    for sid, part in data.groupby("source_id"):
        d = os.path.join(out, "data", f"source_id={sid}")
        os.makedirs(d)
        part.drop(columns="source_id").to_parquet(os.path.join(d, "part-000.parquet"))
    lin = os.path.join(out, "lineage", "run1")
    os.makedirs(lin)
    data.groupby("source_id").size().rename("input_count").reset_index().to_parquet(
        os.path.join(lin, "part-000.parquet")
    )
    os.makedirs(os.path.join(out, "_snapshots"))
    with open(os.path.join(out, "_snapshots", "000001-run1.json"), "w") as f:
        json.dump({"run_id": "run1", "source_ids": sorted(int(s) for s in data.source_id.unique())}, f)
    return pages, out


@pytest.fixture
def output():
    data = _scrubbed(TEXTS)
    data.insert(0, "url", [f"https://h.example/{i}" for i in range(len(TEXTS))])
    data["keep"] = [True, False, True, True, False, True]
    data["drop_reason"] = [None, "langid", None, None, "heuristic:x", None]
    data["source_id"] = [i % 2 for i in range(len(TEXTS))]
    pinned = checks.digest(data[["url", "keep", "drop_reason"]].itertuples(index=False))
    return data, pinned


def test_clean_output_passes(tmp_path, output):
    data, pinned = output
    pages, out = _write_output(str(tmp_path), data)
    fails, stats = checks.curate(pages, out, len(TEXTS), pinned)
    assert fails == []
    assert stats["pii_docs"] == 4 and stats["pii_replacements"] == 5
    assert stats["kept"] == 4 and stats["langid_dropped"] == 1


def test_flipped_keep_fails(tmp_path, output):
    data, pinned = output
    data.loc[2, "keep"] = False
    pages, out = _write_output(str(tmp_path), data)
    fails, _ = checks.curate(pages, out, len(TEXTS), pinned)
    assert len(fails) == 1 and "digest" in fails[0]


def test_altered_text_scrubbed_fails(tmp_path, output):
    data, pinned = output
    data.loc[0, "text_scrubbed"] = data.loc[0, "text"]
    pages, out = _write_output(str(tmp_path), data)
    fails, _ = checks.curate(pages, out, len(TEXTS), pinned)
    assert fails == ["1 rows differ from the DuckDB scrub oracle"]


def test_missing_url_and_short_lineage_fail(tmp_path, output):
    data, pinned = output
    pages, out = _write_output(str(tmp_path), data)
    fails, _ = checks.curate(pages, out, len(TEXTS) + 1, None)
    assert any(f.startswith("urls:") for f in fails)
    assert any(f.startswith("lineage") for f in fails)


def test_dedup_exact_ids_must_match_group_by(tmp_path):
    ids = os.path.join(tmp_path, "ids")
    os.makedirs(ids)
    pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": ["a", "b", "a", "a"]}).to_parquet(
        os.path.join(ids, "part-000.parquet")
    )
    rep = os.path.join(tmp_path, "rep")
    for name, vals in (("exact", [2, 3]), ("fuzzy", [2])):
        os.makedirs(os.path.join(rep, name))
        pd.DataFrame({"doc_id": vals}).to_parquet(os.path.join(rep, name, "p.parquet"))
    ok = {"converged": True}
    assert checks.dedup(ids, rep, ok, None)[0] == []
    pd.DataFrame({"doc_id": [3]}).to_parquet(os.path.join(rep, "exact", "p.parquet"))
    assert len(checks.dedup(ids, rep, ok, None)[0]) == 1
    assert len(checks.dedup(ids, rep, {"converged": False}, None)[0]) == 2
