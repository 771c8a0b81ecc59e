#!/usr/bin/env python
"""End-to-end benchmark of the curation CLI and the dedup operators.

    python3 perfbench/run.py --workload crawl_curate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads (see ``perfbench/README.md``):

* ``crawl_curate`` / ``pii_dense_curate``: ``scripts/run_pipeline.py`` as a
  subprocess, timed from launch to exit (input scan to committed snapshot).
  ``BENCHMARK.json`` lists only ``crawl_curate``; ``pii_dense_curate`` is
  run by hand, because a third workload overruns the time all runs of a
  benchmark check may take.
* ``dedup_crawl``: ``perfbench/dedup_job.py``, which calls the public
  ``operators.dedup`` functions and writes the removal ids to parquet.

Each run generates (or reuses from ``data/perfbench/``) the seeded input,
measures about ``--seconds`` of work as a fixed number of whole samples
(CLI launches or dedup repetitions, see ``NOMINAL_SAMPLE_S``), checks
every output and prints, as its last
stdout line, ``{"correct", "attempted", "failed", "metrics"}``. The line
before it holds diagnostics: hypervisor steal, copy bandwidth, the pinned
environment and the input's measured properties.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` makes a traced
run instead (Spark event log switched on from outside the program, wall
spans around each layer's public functions) and reports the per-layer
metrics. Only one Spark JVM is alive at a time: every Spark program is a
subprocess, run to completion before the next starts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

import checks
import eventlog
import inputs
import procmon

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"
# every run must end within 180 s; sub-steps get what is left of this
RUN_BUDGET_S = 170.0
# Nominal seconds of one sample on a 4-vCPU host. A run takes
# round(--seconds / nominal) samples, at least one, so the sample count
# never depends on how fast the host happens to be: the JVM keeps warming
# over dedup repetitions, and a count that grew on a fast host moved the
# median by itself.
NOMINAL_SAMPLE_S = {"cli": 30.0, "dedup": 6.0}


@dataclass(frozen=True)
class Workload:
    kind: str   # corpus generator (inputs.FRAMES)
    docs: int
    job: str    # "cli" or "dedup"


WORKLOADS = {
    "crawl_curate": Workload("crawl", 6000, "cli"),
    "pii_dense_curate": Workload("pii_dense", 1200, "cli"),
    "dedup_crawl": Workload("crawl", 6000, "dedup"),
}

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}
# Every traced run reports all of these; a layer the workload never calls
# (dedup on a curate workload, curate and checkpoint layers on dedup_crawl)
# reads 0.
PER_LAYER = {
    "extraction.marginal_s": "s",
    "langid.marginal_s": "s",
    "langid.dropped_ratio": "ratio",
    "webpages.exchange_marginal_s": "s",
    "heuristics.word_line_marginal_s": "s",
    "chain.marginal_s": "s",
    "webpages.kept_ratio": "ratio",
    "perplexity.train_s": "s",
    "perplexity.score_marginal_s": "s",
    "quality.marginal_s": "s",
    "pii.marginal_s": "s",
    "pii.docs_matched_ratio": "ratio",
    "pii.replacements": "count",
    "checkpoint.write_run_s": "s",
    "checkpoint.label_scan_s": "s",
    "checkpoint.data_write_s": "s",
    "checkpoint.lineage_write_s": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.buckets_committed": "count",
    "run_pipeline.input_count_s": "s",
    "driver.outside_jobs_s": "s",
    "python.bytes_to_workers": "bytes",
    "python.bytes_from_workers": "bytes",
    "python.worker_run_s": "s",
    "spark.task_s": "s",
    "spark.cpu_busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.jobs": "count",
    "dedup.exact_s": "s",
    "dedup.minhash_marginal_s": "s",
    "dedup.lsh_marginal_s": "s",
    "dedup.jaccard_marginal_s": "s",
    "dedup.cc_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.jaccard_pass_ratio": "ratio",
    "dedup.cc_rounds": "count",
    "dedup.removed_ids": "count",
    "tracing.overhead_s": "s",
}


class Run:
    """Per-run state: work directory, deadline, pinned environment."""

    def __init__(self, workload: str, seed: int, seconds: float):
        self.name, self.wl, self.seed = workload, WORKLOADS[workload], seed
        self.samples = max(1, round(seconds / NOMINAL_SAMPLE_S[self.wl.job]))
        self.data = os.path.join(ROOT, "data", "perfbench")
        self.work = os.path.join(self.data, "runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        self.deadline = time.monotonic() + RUN_BUDGET_S
        self.cores = len(os.sched_getaffinity(0))
        self.launches = 0
        self.pinned = self._pinned()

    def _pinned(self) -> str | None:
        with open(os.path.join(HERE, "pinned.json")) as f:
            return json.load(f).get(self.name, {}).get(f"{self.seed}:{self.wl.docs}")

    def env(self, eventlog_dir: str | None) -> dict:
        """Environment of one Spark subprocess. The heap is fixed and
        pre-touched so peak RSS measures memory beyond it instead of the
        garbage collector's growth decisions; the event log, when on, is
        uncompressed (this Python has no zstandard)."""
        conf = os.path.join(self.work, f"conf{self.launches}")
        os.makedirs(conf)
        tmp = os.path.join(self.work, "tmp")
        lines = [
            "spark.driver.extraJavaOptions "
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
        ]
        if eventlog_dir:
            os.makedirs(eventlog_dir)
            lines += [
                "spark.eventLog.enabled true",
                f"spark.eventLog.dir file://{eventlog_dir}",
                "spark.eventLog.compress false",
            ]
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
            f.write("\n".join(lines) + "\n")
        return dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_DRIVER_MEM=DRIVER_MEM,
            SPARK_LOCAL_DIR=os.path.join(self.work, "spark-local"),
            SPARK_CONF_DIR=conf,
            TMPDIR=tmp,
        )

    def launch(self, cmd: list[str], traced: bool) -> tuple[dict, str | None]:
        self.launches += 1
        ev = os.path.join(self.work, f"eventlog{self.launches}") if traced else None
        env = self.env(ev)
        r = procmon.run_watched(
            cmd, env, ROOT, max(5.0, self.deadline - time.monotonic()),
            os.path.join(self.work, f"stderr{self.launches}.log"),
        )
        return r, ev

    def pinned_env(self) -> dict:
        return {
            "SPARK_GRAFT_CPUS": str(self.cores),
            "cores": self.cores,
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIR": "data/perfbench/runs/<run>/spark-local",
            "SPARK_GRAFT_MAX_PARTITION_BYTES": os.environ.get(
                "SPARK_GRAFT_MAX_PARTITION_BYTES", "unset (session default 2m)"
            ),
        }


def _checked(check, *args) -> tuple[list[str], dict]:
    """Run an output check; a check that cannot read the output (a missing
    or malformed file makes DuckDB raise) fails the attempt instead of the
    whole run."""
    try:
        return check(*args)
    except Exception as e:  # noqa: BLE001 - any error is a failed check
        return [f"{check.__name__} check raised {type(e).__name__}: {e}"[:300]], {}


# --- curate workloads (the CLI) ------------------------------------------------


def cli_launch(run: Run, corpus: str, traced: bool) -> dict:
    out = os.path.join(run.work, f"out{run.launches + 1}")
    r, ev = run.launch(
        [sys.executable, "scripts/run_pipeline.py", "--input",
         os.path.join(corpus, "pages"), "--output", out, "--cores", str(run.cores)],
        traced,
    )
    r["out"], r["eventlog"] = out, ev
    if r["code"] != 0:
        r["fails"], r["stats"] = [f"CLI exit code {r['code']}"], {}
        return r
    try:
        summary = json.loads(r["last_line"])
    except ValueError:
        summary = {}
    r["fails"], r["stats"] = _checked(
        checks.curate, os.path.join(corpus, "pages"), out, run.wl.docs, run.pinned
    )
    if summary.get("input_docs") != run.wl.docs:
        r["fails"].append(f"CLI summary line: {r['last_line'][:200]!r}")
    return r


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def cli_trace_metrics(run: Run, launch: dict) -> dict:
    """Per-layer metrics of one traced CLI launch, from its event log, its
    committed output and the output checks."""
    log = eventlog.parse(launch["eventlog"])
    tot = eventlog.totals(log["jobs"])
    wall = launch["wall_s"]
    execs = log["executions"]
    label = [x for x in execs if x["site"].startswith("checkpoint.py:")]
    after = label[0]["id"] if label else -1
    writes = [x for x in execs if x["site"] == "parquet" and x["id"] > after]
    counts = [x for x in execs if x["site"] == "count"]

    def span_s(xs: list[dict]) -> float:
        return sum(x["end"] - x["start"] for x in xs if x["end"]) / 1000.0

    st, n = launch["stats"], run.wl.docs
    m = spark_metrics(tot, wall, run.cores)
    m.update({
        "driver.outside_jobs_s": wall - tot["covered_ms"] / 1000.0,
        "checkpoint.label_scan_s": span_s(label),
        "checkpoint.data_write_s": span_s(writes[:1]),
        "checkpoint.lineage_write_s": span_s(writes[1:2]),
        "checkpoint.write_run_s": (
            (writes[-1]["end"] - label[0]["start"]) / 1000.0
            if label and writes and writes[-1]["end"] else 0.0
        ),
        "run_pipeline.input_count_s": span_s(counts),
        "checkpoint.bytes_written": _dir_bytes(os.path.join(launch["out"], "data"))
        + _dir_bytes(os.path.join(launch["out"], "lineage")),
        "checkpoint.buckets_committed": st.get("buckets_committed", 0),
        "langid.dropped_ratio": st.get("langid_dropped", 0) / n,
        "webpages.kept_ratio": st.get("kept", 0) / n,
        "pii.docs_matched_ratio": st.get("pii_docs", 0) / n,
        "pii.replacements": st.get("pii_replacements", 0),
    })
    return m


def spark_metrics(tot: dict, wall: float, cores: int) -> dict:
    task_s = tot["task_ms"] / 1000.0
    return {
        "spark.jobs": tot["jobs"],
        "spark.task_s": task_s,
        "spark.cpu_busy_ratio": task_s / (wall * cores) if wall else 0.0,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.failed_tasks": tot["failed_tasks"],
        "python.bytes_to_workers": tot["py_sent"],
        "python.bytes_from_workers": tot["py_recv"],
        "python.worker_run_s": tot["py_run_ms"] / 1000.0,
    }


# --- dedup workload ------------------------------------------------------------


def dedup_job(run: Run, corpus: str, traced: bool) -> tuple[list[dict], dict]:
    """One dedup job: returns (checked repetitions, job record)."""
    out = os.path.join(run.work, f"dedup{run.launches + 1}")
    result_path = out + ".json"
    cmd = [
        sys.executable, "perfbench/dedup_job.py", "--corpus", corpus,
        "--out", out, "--result", result_path, "--reps", str(run.samples),
    ] + (["--layers"] if traced else [])
    t0 = time.monotonic()
    r, ev = run.launch(cmd, traced)
    r["eventlog"] = ev
    if r["code"] != 0 or not os.path.exists(result_path):
        r["fails"] = [f"dedup job exit code {r['code']}"]
        return [r], r
    with open(result_path) as f:
        res = json.load(f)
    r["setup_s"] = res["setup_end"] - t0
    r["layers"] = res.get("layers", {})
    reps = []
    for i, rep in enumerate(res["reps"]):
        rep["fails"], rep["stats"] = _checked(
            checks.dedup, os.path.join(corpus, "ids"), os.path.join(out, f"rep{i}"), rep["cc"],
            run.pinned,
        )
        reps.append(rep)
    return reps, r


def dedup_trace_metrics(run: Run, reps: list[dict], job: dict) -> dict:
    log = eventlog.parse(job["eventlog"])
    timed = [j for j in log["jobs"] if j["group"] == "timed"]
    tot = eventlog.totals(timed)
    wall = sum(r["wall_s"] for r in reps)
    m = spark_metrics(tot, wall, run.cores)
    m["driver.outside_jobs_s"] = wall - tot["covered_ms"] / 1000.0
    m.update(job["layers"])
    m["dedup.removed_ids"] = reps[0]["stats"]["removed_ids"]
    return m


# --- untraced-wall history (for tracing.overhead_s) ----------------------------


def history_path(run: Run) -> str:
    return os.path.join(run.data, "untraced_walls.jsonl")


def record_walls(run: Run, walls: list[float]) -> None:
    with open(history_path(run), "a") as f:
        for w in walls:
            f.write(json.dumps({"workload": run.name, "docs": run.wl.docs, "wall_s": w}) + "\n")


def untraced_median(run: Run) -> float | None:
    """Median of the untraced walls earlier runs in this checkout recorded
    for this workload and size."""
    try:
        with open(history_path(run)) as f:
            rows = [json.loads(ln) for ln in f if ln.strip()]
    except FileNotFoundError:
        return None
    walls = [r["wall_s"] for r in rows if r["workload"] == run.name and r["docs"] == run.wl.docs]
    return statistics.median(walls) if walls else None


# --- the four kinds of run ----------------------------------------------------
# Each returns (attempts, metrics, extra diagnostics); an attempt is one CLI
# launch, one dedup repetition or one layer job, and fails when its process
# fails or its output check does.


def cli_e2e(run: Run, corpus: str) -> tuple[list[dict], dict, dict]:
    launches = [cli_launch(run, corpus, traced=False) for _ in range(run.samples)]
    record_walls(run, [x["wall_s"] for x in launches if not x["fails"]])
    metrics = {
        "docs_per_s": statistics.median(run.wl.docs / x["wall_s"] for x in launches),
        # launch to the first Python worker: JVM start, session, input count,
        # LM training, curate planning and the first stage's codegen
        "setup_s": statistics.median(x["first_worker_s"] or x["wall_s"] for x in launches),
        "peak_rss_mb": statistics.median(x["peak_rss"] for x in launches) / 2**20,
    }
    return launches, metrics, {"launches": _brief(launches)}


def cli_trace(run: Run, corpus: str) -> tuple[list[dict], dict, dict]:
    traced = cli_launch(run, corpus, traced=True)
    attempts = [traced]
    metrics = {}
    if not traced["fails"]:
        metrics.update(cli_trace_metrics(run, traced))
    layers_path = os.path.join(run.work, "layers.json")
    lj, _ = run.launch(
        [sys.executable, "perfbench/curate_layers.py", "--corpus", corpus,
         "--result", layers_path],
        traced=False,
    )
    lj["fails"] = [] if lj["code"] == 0 else [f"layer job exit code {lj['code']}"]
    attempts.append(lj)
    if not lj["fails"]:
        with open(layers_path) as f:
            metrics.update(json.load(f))
    # The untraced baseline comes last, so a slow host can only cost
    # tracing.overhead_s, never the layer metrics: it runs when no earlier
    # run in this checkout recorded an untraced wall and time is left.
    if untraced_median(run) is None and (
        run.deadline - time.monotonic() > 1.5 * traced["wall_s"]
    ):
        base_launch = cli_launch(run, corpus, traced=False)
        attempts.append(base_launch)
        record_walls(run, [base_launch["wall_s"]] if not base_launch["fails"] else [])
    base = untraced_median(run)
    if not traced["fails"] and base is not None:
        metrics["tracing.overhead_s"] = traced["wall_s"] - base
    return attempts, metrics, {"launches": _brief(attempts)}


def dedup_e2e(run: Run, corpus: str) -> tuple[list[dict], dict, dict]:
    reps, job = dedup_job(run, corpus, traced=False)
    record_walls(run, [r["wall_s"] for r in reps if not r["fails"]])
    metrics = {
        "docs_per_s": statistics.median(run.wl.docs / r["wall_s"] for r in reps),
        "setup_s": job.get("setup_s", job["wall_s"]),
        "peak_rss_mb": job["peak_rss"] / 2**20,
    }
    return reps, metrics, {"reps": _brief(reps), "cc": reps[0].get("cc")}


def dedup_trace(run: Run, corpus: str) -> tuple[list[dict], dict, dict]:
    attempts = []
    if untraced_median(run) is None:
        attempts, _ = dedup_job(run, corpus, traced=False)
        record_walls(run, [r["wall_s"] for r in attempts if not r["fails"]])
    reps, job = dedup_job(run, corpus, traced=True)
    metrics = {}
    base = untraced_median(run)
    if not any(r["fails"] for r in reps):
        metrics.update(dedup_trace_metrics(run, reps, job))
        if base is not None:
            metrics["tracing.overhead_s"] = (
                statistics.median(r["wall_s"] for r in reps) - base
            )
    return attempts + reps, metrics, {"reps": _brief(attempts + reps)}


MEASURE = {
    ("cli", 0): cli_e2e, ("cli", 1): cli_trace,
    ("dedup", 0): dedup_e2e, ("dedup", 1): dedup_trace,
}


def _brief(attempts: list[dict]) -> list[dict]:
    keys = ("wall_s", "first_worker_s", "peak_rss", "code", "fails", "stats")
    return [{k: a[k] for k in keys if k in a} for a in attempts]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("scripts/run_pipeline.py", "nemo_curator_spark/__init__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a checkout of the repo",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)

    run = Run(args.workload, args.seed, args.seconds)
    try:
        corpus, props = inputs.ensure(
            os.path.join(run.data, "inputs"), run.wl.kind, args.seed, run.wl.docs
        )
        bw_before, cpu_before = procmon.copy_bandwidth_gbs(), procmon.cpu_times()
        attempts, metrics, extra = MEASURE[run.wl.job, args.trace](run, corpus)
        steal = procmon.steal_pct(cpu_before, procmon.cpu_times())
        bw_after = procmon.copy_bandwidth_gbs()
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    failed = sum(1 for a in attempts if a["fails"])
    table = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "diagnostics": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "steal_pct": round(steal, 3),
            "copy_gbs_before": round(bw_before, 2),
            "copy_gbs_after": round(bw_after, 2),
            "env": run.pinned_env(), "input": props, **extra,
        }
    }, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(attempts),
        "failed": failed,
        "metrics": {
            k: {"value": metrics.get(k, 0), "unit": u} for k, u in table.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
