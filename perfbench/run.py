"""The repo benchmark: the two production ``main.py`` jobs, each with its half
of the operator sweep, closed loop, one client, on ``local[$(nproc)]``.

Usage (from the repo root):

    python3 perfbench/run.py --workload temporal_job --seed 0 --seconds 15 --trace 0

Workloads:

* ``temporal_job`` — ``main.py --job temporal`` in-process:
  ``QUERIES["pipeline_flagship"]`` through ``run_with_manifests``, a
  ``resume`` of it, and the sweep leaves of the temporal, impute_fcm, select
  and pipelines families.
* ``tokens_job`` — ``main.py --job tokens``: ``QUERIES["pipeline_tokens"]``
  through ``run_with_manifests``, its ``resume``, and the dedup, similarity
  and text_tokens leaves.

One run: host guard, calibration probes, seeded inputs, three set-ups
(``get_spark`` plus an sf0.001 ``pipeline_flagship`` warmup through
``run_with_manifests`` with one bucket; the median is ``setup_s``), the
DuckDB oracle gate for every timed query (untimed; it also warms each
query), then the loop: the workload's untimed warm-up operations and its
timed ones (``WORKLOADS``, ``Bench.loop``). Every operation is checked against the verified row count
and digest; a mismatch or an exception counts as failed and the loop goes
on.

``--trace 1`` times one plain round with every operation once, then
restarts the session with the Spark event log on (via
``SPARK_GRAFT_EXTRA_CONF``), repeats that round traced, parses the log
offline and prints the per-layer metrics instead of the end-to-end ones.

The last line of stdout is the result JSON; the line before it holds run
metadata (probes, seed, timings of the untimed phases).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".perfbench_cache"

N_BUCKETS = 4
RESUME_BUCKETS = range(N_BUCKETS // 4)  # the fixed quarter a resume recomputes
SETUPS = 3

# operator-sweep leaves by family; each workload times one half. Leaf names
# resolve through {**QUERIES, **bench._bench_extra()}, so pit_backfill is
# bench.py's production-path override.
FAMILIES = ("temporal", "impute_fcm", "select", "dedup", "similarity",
            "text_tokens", "pipelines")

WORKLOADS = {
    "temporal_job": {
        "job": ("pipeline_flagship", "entity_id"),
        # the loop (Bench.loop): untimed warm-up operations, then the timed
        # ones. At the timed scale the first run of a leaf after the gate is
        # up to 1.5x slower than the next ones, and the first run of this job
        # 20-50% slower (JIT warm-up), so both are warmed first. Three
        # resumes, so the median drops one outlier
        "warm": ["leaves", "job"],
        "timed": ["job", "resume", "leaves", "resume", "leaves", "resume"],
        "rows_table": "events",  # one entity x timestamp row per event
        "tables": ["events", "documents", "part", "customer"],
        "leaves": [("temporal", "pit_backfill"),
                   ("impute_fcm", "impute_fcm_parameter"),
                   ("select", "select_wfrs"), ("pipelines", "pipeline_flagship")],
    },
    "tokens_job": {
        "job": ("pipeline_tokens", "pack_id"),
        # no warm-up: the job's 11 s and 190 Spark jobs even out its own
        # warm-up, and it warms the dedup and text leaves. These leaves are
        # short and the host's noise hits them hardest, so they get three
        # samples, whose median drops one outlier; another job would cost
        # more than the rest of the loop
        "warm": [],
        "timed": ["job", "leaves", "resume", "leaves", "resume", "leaves", "resume"],
        "rows_table": "documents",
        "tables": ["documents", "embeddings"],
        "leaves": [("dedup", "dedup_exact"), ("similarity", "knn_cosine"),
                   ("text_tokens", "text_stats")],
    },
}
WARMUP_QUERY = "pipeline_flagship"  # what __spark_entry__.entry runs

FAMILY_METRICS = ("plan_s", "plan_jobs", "action_s", "jobs", "task_s", "gc_s",
                  "shuffle_mb", "spill_mb", "py_s", "py_io_mb", "driver_gap_s")


# ---------------------------------------------------------------- host guard

def other_spark_jvms() -> list[int]:
    pids = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit() or int(p.name) == os.getpid():
            continue
        try:
            argv = (p / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if argv and argv[0].endswith(b"java") and any(
                a.startswith(b"org.apache.spark.") for a in argv):
            pids.append(int(p.name))
    return pids


def wait_for_quiet_host(timeout_s: float = 20.0) -> list[int]:
    """Spark JVMs still running after ``timeout_s`` (a previous run's JVM
    may take a moment to exit)."""
    deadline = time.monotonic() + timeout_s
    while (pids := other_spark_jvms()) and time.monotonic() < deadline:
        time.sleep(0.5)
    return pids


def reset_peak_rss() -> None:
    """Reset VmHWM to the current RSS (Linux ``clear_refs`` value 5)."""
    try:
        Path("/proc/self/clear_refs").write_text("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    for line in Path("/proc/self/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return float("nan")


def steal_s() -> float:
    """CPU time the hypervisor has taken from this host's vCPUs since boot
    (the steal column of ``/proc/stat``), summed over all vCPUs."""
    fields = Path("/proc/stat").read_text().splitlines()[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# ---------------------------------------------------------------- operations

class Bench:
    def __init__(self, workload: str, sf_dir: Path, refs: dict, spark, catalog):
        self.workload = workload
        self.sf_dir = str(sf_dir)
        self.refs = refs
        self.spark = spark
        self.catalog = catalog
        self.out_dir = CACHE / "out" / workload
        query, leaves = WORKLOADS[workload]["job"][0], WORKLOADS[workload]["leaves"]
        self.leaf_pass = [("leaf", fam, leaf) for fam, leaf in leaves]
        self.job_op, self.resume_op = ("job", "", query), ("resume", "", query)
        self.op_seq = 0
        self.job_out_ok = False

    def _group(self, phase: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(f"perfbench:{self.op_seq}:{phase}", desc)

    def run_op(self, kind: str, family: str, name: str) -> dict:
        from ficaria_spark.plans.cache import release_operator_caches

        self.op_seq += 1
        desc = f"{self.workload} {kind} {name}"
        rec = {"op": self.op_seq, "kind": kind, "family": family, "name": name,
               "ok": False, "rows": 0, "error": None}
        try:
            if kind == "leaf":
                self._leaf(rec, desc)
            else:
                self._job(rec, desc, resume=kind == "resume")
        except Exception as ex:  # counted as failed; the loop goes on
            rec["error"] = f"{type(ex).__name__}: {ex}"[:300]
        t = time.perf_counter()
        release_operator_caches()
        rec["release_s"] = time.perf_counter() - t
        return rec

    def _timed(self, rec: dict, desc: str, plan, action):
        self._group("plan", desc)
        rec["t0"], p0 = time.time(), time.perf_counter()
        df = plan()
        rec["t_plan"], p1 = time.time(), time.perf_counter()
        self._group("action", desc)
        out = action(df)
        rec["t1"], p2 = time.time(), time.perf_counter()
        rec["plan_s"], rec["wall_s"] = p1 - p0, p2 - p0
        self._group("check", desc)
        return out

    def _leaf(self, rec: dict, desc: str) -> None:
        from verify import digest

        fn = self.catalog[rec["name"]]
        got = self._timed(rec, desc, lambda: fn(self.spark, self.sf_dir), digest)
        rec["rows"] = got[0]
        rec["ok"] = list(got) == self.refs.get(rec["name"])

    def _job(self, rec: dict, desc: str, resume: bool) -> None:
        from ficaria_spark.plans.lineage import read_output, run_with_manifests
        from verify import digest

        query, entity_col = WORKLOADS[self.workload]["job"]
        if resume:
            if not self.job_out_ok:
                raise RuntimeError("no complete job output to resume from")
            self._drop_buckets(RESUME_BUCKETS)
            expect = list(RESUME_BUCKETS)
        else:
            shutil.rmtree(self.out_dir, ignore_errors=True)
            expect = list(range(N_BUCKETS))
        self.job_out_ok = False
        summary = self._timed(
            rec, desc, lambda: self.catalog[query](self.spark, self.sf_dir),
            lambda df: run_with_manifests(df, entity_col=entity_col,
                                          out_dir=str(self.out_dir),
                                          n_buckets=N_BUCKETS))
        rec["rows"] = summary["rows"]
        written = read_output(self.spark, str(self.out_dir)).drop("part_bucket")
        rec["ok"] = (not summary["failed"]
                     and sorted(summary["completed"]) == expect
                     and list(digest(written)) == self.refs.get(query))
        rec["files"] = sum(1 for f in self.out_dir.rglob("*.parquet"))
        self.job_out_ok = rec["ok"]

    def _drop_buckets(self, buckets) -> None:
        from ficaria_spark.plans.lineage import MANIFEST_DIR

        mdir = self.out_dir / MANIFEST_DIR
        for f in sorted(mdir.glob("*.json")):
            if json.loads(f.read_text()).get("bucket") in buckets:
                f.unlink()
        for b in buckets:
            shutil.rmtree(self.out_dir / f"part_bucket={b}", ignore_errors=True)

    def once(self) -> list[dict]:
        """A traced run's round: every operation once."""
        return [self.run_op(*op) for op in self._expand(["leaves", "job", "resume"])]

    def _expand(self, steps: list[str]) -> list[tuple[str, str, str]]:
        ops = {"leaves": self.leaf_pass, "job": [self.job_op],
               "resume": [self.resume_op]}
        return [op for step in steps for op in ops[step]]

    def loop(self, seconds: float) -> list[dict]:
        """The workload's warm-up operations, then its timed ones, then more
        rounds of one pass over the leaves and one resume while the last
        round's length still fits in ``seconds``. Warm-up operations are
        checked and counted like the others but marked ``warm`` and kept out
        of the metrics."""
        wl = WORKLOADS[self.workload]
        recs = [dict(self.run_op(*op), warm=True) for op in self._expand(wl["warm"])]
        start = time.perf_counter()
        recs += [self.run_op(*op) for op in self._expand(wl["timed"])]
        last = time.perf_counter() - start
        while time.perf_counter() - start + last <= seconds:
            t = time.perf_counter()
            recs += [self.run_op(*op) for op in self._expand(["leaves", "resume"])]
            last = time.perf_counter() - t
        return recs


# ---------------------------------------------------------------- metrics

def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _by_name(recs: list[dict], key: str) -> dict[tuple[str, str], float]:
    """Median of ``key`` per (kind, name) operation."""
    groups = defaultdict(list)
    for r in recs:
        if key in r:
            groups[(r["kind"], r["name"])].append(r[key])
    return {k: _median(v) for k, v in groups.items()}


def end_to_end(recs: list[dict], setups: list[float], rss_mb: float,
               input_rows: int) -> dict:
    recs = [r for r in recs if not r.get("warm")]
    jobs = [r for r in recs if r["kind"] == "job" and "wall_s" in r]
    walls = _by_name(recs, "wall_s")
    wall = _median(r["wall_s"] for r in jobs)
    return {
        "setup_s": (_median(setups), "s"),
        "wall_s": (wall, "s"),
        # input rows, which are equal for every seed (output row counts of
        # the tokens job vary with the seed)
        "rows_per_s": (input_rows / wall if wall else 0.0, "1/s"),
        "resume_wall_s": (_median(r["wall_s"] for r in recs
                                  if r["kind"] == "resume" and "wall_s" in r), "s"),
        "leaves_s": (sum(v for (kind, _), v in walls.items() if kind == "leaf"), "s"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }


def per_layer(workload: str, layers: list[dict], recs: list[dict],
              untraced: list[dict], storage_mb: float) -> dict:
    """Per-layer metrics of one traced round (``layers`` parallel to ``recs``)."""
    out: dict[str, tuple[float, str]] = {}
    units = {"plan_jobs": "count", "jobs": "count", "shuffle_mb": "MB",
             "spill_mb": "MB", "py_io_mb": "MB"}
    for fam in FAMILIES:
        rows = [lay for lay, r in zip(layers, recs)
                if r["kind"] == "leaf" and r["family"] == fam]
        for m in FAMILY_METRICS:
            out[f"{fam}.{m}"] = (sum(lay[m] for lay in rows), units.get(m, "s"))
    leaf_recs = [r for r in recs if r["kind"] == "leaf"]
    out["cache.release_s"] = (sum(r["release_s"] for r in leaf_recs), "s")
    out["cache.storage_mb_after_release"] = (storage_mb, "MB")

    job_query = WORKLOADS[workload]["job"][0]

    def layer_of(kind: str) -> tuple[dict, dict]:
        for lay, r in zip(layers, recs):
            if r["kind"] == kind:
                return lay, r
        return defaultdict(float), defaultdict(float)

    full, full_rec = layer_of("job")
    res, _ = layer_of("resume")
    out["lineage.jobs"] = (full["jobs"], "count")
    out["lineage.resume_jobs"] = (res["jobs"], "count")
    # input bytes the full job scans per byte its one-bucket resume scans: about
    # n_buckets while every bucket re-executes the query, 1 for a one-pass run
    out["lineage.input_read_ratio"] = (
        full["input_mb"] / res["input_mb"] if res["input_mb"] else 0.0, "ratio")
    out["lineage.write_mb"] = (full["output_mb"], "MB")
    out["lineage.files"] = (full_rec.get("files", 0), "count")
    out["lineage.task_s"] = (full["task_s"], "s")
    out["lineage.driver_gap_s"] = (full["driver_gap_s"], "s")
    out["query.plan_s"] = (full["plan_s"], "s")

    plain = _by_name(untraced, "wall_s")
    traced = sum(lay["plan_s"] + lay["job_s"] + lay["driver_gap_s"] for lay in layers)
    base = sum(plain.get((r["kind"], r["name"]), 0.0) for r in recs)
    out["trace.overhead_s"] = (_by_name(recs, "wall_s").get(("job", job_query), 0.0)
                               - plain.get(("job", job_query), 0.0), "s")
    out["trace.coverage"] = (traced / base if base else 0.0, "ratio")
    return out


def result(recs: list[dict], gate_failures: list[str], metrics: dict) -> dict:
    """The result line: a wrong output or an exception counts as failed."""
    failed = sum(1 for r in recs if not r["ok"])
    return {"correct": not gate_failures and failed == 0,
            "attempted": len(recs), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


# ---------------------------------------------------------------- main

@contextmanager
def _phase(meta: dict, name: str):
    """Record the wall of an untimed phase of the run in ``meta["phase_s"]``."""
    t = time.perf_counter()
    try:
        yield
    finally:
        meta.setdefault("phase_s", {})[name] = round(time.perf_counter() - t, 3)


def _spark_env(trace_dir: Path | None) -> None:
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(CACHE / "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    conf = [f"spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress=false"]
    if trace_dir is not None:
        trace_dir.mkdir(parents=True, exist_ok=True)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{trace_dir}",
                 "spark.eventLog.logBlockUpdates.enabled=true",
                 "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(conf)


def _stop(spark) -> None:
    """Stop the session and the py4j JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _settle(spark) -> None:
    """Collect the gate's garbage in both heaps before the timed loop, so the
    first timed operation does not pay for it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _probes_in_child() -> dict:
    """The calibration probes in a fresh interpreter: after a run, this
    process's allocator state alone slows the numpy probe about 2x."""
    code = ("import json, bench; print(json.dumps({'cpu_s': bench.calibration_probe(),"
            " 'mem_s': bench.memory_probe()}))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                         text=True, timeout=120, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _verify(spark, sf_dir: Path, wl: dict, meta: dict) -> tuple[dict, list[str]]:
    import verify
    from ficaria_spark.plans.cache import release_operator_caches

    t = time.perf_counter()
    gate_log: list[str] = []
    refs, failures = verify.references(
        spark, str(sf_dir), [leaf for _, leaf in wl["leaves"]], wl["job"][0],
        echo=lambda line: gate_log.append(f"{time.perf_counter() - t:6.1f} {line}"))
    release_operator_caches()
    meta.update(verify_s=round(time.perf_counter() - t, 3),
                gate_failures=failures, gate_log=gate_log)
    return refs, failures


def _traced_metrics(args, trace_dir: Path, traced: list[dict], untraced: list[dict],
                    meta: dict) -> dict:
    """Per-layer metrics from the traced round's event log; writes the span
    tree next to the log."""
    import eventlog

    log = eventlog.parse(sorted(trace_dir.glob("local-*"))[-1])
    layers = eventlog.attribute(log, traced)
    spans = {"workload": args.workload, "seed": args.seed,
             "ops": [dict(lay["tree"], wall_s=r.get("wall_s"), ok=r["ok"])
                     for lay, r in zip(layers, traced)]}
    (trace_dir / "spans.json").write_text(json.dumps(spans, indent=1))
    meta["spans"] = str((trace_dir / "spans.json").relative_to(ROOT))
    return per_layer(args.workload, layers, traced, untraced, log["storage_mb"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ficaria_spark").is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: no ficaria_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    if pids := wait_for_quiet_host():
        print(f"perfbench: refusing to start, other Spark JVMs running: {pids}",
              file=sys.stderr)
        return 3
    sys.path[:0] = [str(ROOT), str(HERE)]
    _spark_env(None)

    import bench
    import inputs

    meta = {"workload": args.workload, "seed": args.seed}
    with _phase(meta, "probe_before"):
        meta["probe_before"] = {"cpu_s": bench.calibration_probe(),
                                "mem_s": bench.memory_probe()}
    wl = WORKLOADS[args.workload]
    with _phase(meta, "inputs"):
        sf_dir, warm_dir = inputs.materialize(args.seed, CACHE, args.workload,
                                              wl["tables"])

    from ficaria_spark.plans.cache import release_operator_caches
    from ficaria_spark.plans.lineage import run_with_manifests
    from ficaria_spark.queries import QUERIES
    from ficaria_spark.session import get_spark

    catalog = {**QUERIES, **bench._bench_extra()}
    warm_out = CACHE / "out" / "warmup"
    spark, setups = None, []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            shutil.rmtree(warm_out, ignore_errors=True)
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{args.workload}")
            # through the manifest runner, as main.py runs a job, so the timed
            # job pays less of the first JIT of the runner's write path
            run_with_manifests(QUERIES[WARMUP_QUERY](spark, str(warm_dir)),
                               entity_col="entity_id", out_dir=str(warm_out),
                               n_buckets=1)
            release_operator_caches()
            setups.append(time.perf_counter() - t)
        with _phase(meta, "verify"):
            refs, gate_failures = _verify(spark, sf_dir, wl, meta)
        bench_ = Bench(args.workload, sf_dir, refs, spark, catalog)
        with _phase(meta, "settle"):
            _settle(spark)
        reset_peak_rss()
        steal0 = steal_s()
        with _phase(meta, "loop"):
            # a traced run reports no end-to-end metrics: one plain round, to
            # compare the traced round with, is enough
            recs = bench_.once() if args.trace else bench_.loop(args.seconds)
        meta["loop_steal_s"] = round(steal_s() - steal0, 2)
        rss = peak_rss_mb()
        all_recs = list(recs)
        input_rows = inputs.row_counts(sf_dir)[wl["rows_table"]]
        metrics = end_to_end(recs, setups, rss, input_rows)
        if args.trace:
            spark.stop()
            trace_dir = CACHE / "trace" / f"{args.workload}-seed{args.seed}-{os.getpid()}"
            _spark_env(trace_dir)
            spark = bench_.spark = get_spark(f"perfbench-{args.workload}-traced")
            traced = bench_.once()
            all_recs += traced
            spark.stop()  # flushes the event log
            metrics = _traced_metrics(args, trace_dir, traced, recs, meta)
    finally:
        if spark is not None:
            with _phase(meta, "stop"):
                _stop(spark)
    with _phase(meta, "probe_after"):
        meta["probe_after"] = _probes_in_child()

    meta["ops"] = len(all_recs)
    meta["setups_s"] = [round(x, 3) for x in setups]
    walls = defaultdict(list)
    for r in recs:
        if "wall_s" in r:
            warm = "warm:" if r.get("warm") else ""
            walls[f"{warm}{r['kind']}:{r['name']}"].append(round(r["wall_s"], 3))
    meta["op_walls_s"] = dict(walls)
    meta["errors"] = sorted({f"{r['name']}: {r['error'] or 'wrong output'}"
                             for r in all_recs if not r["ok"]})
    print(json.dumps({"meta": meta}))
    print(json.dumps(result(all_recs, gate_failures, metrics)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
