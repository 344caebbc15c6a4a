#!/usr/bin/env python3
"""spark-graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload lake_lifecycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run is a fresh process: set-up,
one cold pass, then warm passes until ``--seconds`` have been measured,
then the untimed output checks. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the
line before it carries the detail (host, seed, failures, samples).

Inputs are byte-identical copies of the repo's sf0.01 test data under
``perfbench/data`` (sf0.001 too, for the self-tests' ``--sf sf0.001``);
before every run they are checked against ``TESTDATA_FPRINT.json`` with
``tools/fingerprint.py``. Temporary files, Spark local dirs and the
traced run's spans go under ``perfbench/.work`` and ``perfbench/.out``.
Nothing is read or written outside the checkout.

The traced run (``--trace 1``) alternates untraced and traced warm
passes. Traced passes run with the wrappers from ``tracing.py`` installed
and a status-store read around every op; end-to-end numbers always
come from untraced runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "data_mastery_pipeline_spark"
sys.path.insert(0, str(HERE))

import workloads as W  # noqa: E402

WORKLOADS = ("lake_lifecycle", "serve_warm")
DATA = HERE / "data"
SCALES = ("sf0.01", "sf0.001")

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "request_p50_ms": "ms",
    "request_tail_ms": "ms",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "tables.scan_bytes": "bytes",
    "tables.scan_rows": "count",
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "queries.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_gap_s": "s",
    "spark.cpu_util": "ratio",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_p50_ms": "ms",
    "spark.task_max_over_p50": "ratio",
    "spark.spill_bytes": "bytes",
    "txlog.commits": "count",
    "txlog.commit_ms_p50": "ms",
    "txlog.files_written": "count",
    "txlog.bytes_written": "bytes",
    "txlog.write_amp": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.s_per_batch": "s",
    "mv.refresh_s": "s",
    **{k: "s" for k in W.CODEC_OPS},
    **{f"pipeline.stage_s.{st}": "s" for st in W.RUNLOG_STAGES},
    "checkpointing.calls": "count",
    "checkpointing.s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "dedup.cc_rounds": "count",
    "dedup.cc_s": "s",
    **{f"corpus.stage_rows.{st}": "count" for st in W.CORPUS_STAGES},
    "search.query_ms": "ms",
    "similarity.ann_query_ms": "ms",
    "similarity.recall_at_10": "ratio",
    "rescache.hit_ms": "ms",
    "rescache.hit_rate": "ratio",
    "mv.answer_ms": "ms",
    **{f"op.{op}_s": "s" for op in W.LAKE_OPS},
    "trace.overhead_frac": "ratio",
    "peak_rss_mb": "MB",
}
MIN_WARM_PASSES = {"lake_lifecycle": 1, "serve_warm": 3}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def verify_inputs(data_root: Path, sf: str) -> dict:
    """Fingerprint ``data_root/<sf>`` the way tools/fingerprint.py does
    (footer rows, arrow schema, sha256 per table) and compare it with the
    repo's TESTDATA_FPRINT.json record of that scale; raise on any drift,
    so a stale or edited input is never timed. Returns the fingerprint."""
    from tools import fingerprint as fp

    fp.TESTDATA = data_root  # fingerprint() walks TESTDATA/<sf> per scale
    now = fp.fingerprint()
    want = json.loads(fp.OUT.read_text())
    drift = fp.diff({sf: want[sf]}, {sf: now.get(sf, {})})
    if drift:
        raise RuntimeError(f"inputs under {data_root / sf} differ from {fp.OUT.name}: {drift}")
    return now[sf]


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail_percentile(n_min: int) -> float | None:
    """Highest whole percentile with at least 10 samples beyond it when
    a run holds ``n_min`` samples; None (the maximum) below 11 samples."""
    for q in range(99, 0, -1):
        if n_min - math.ceil(q * n_min / 100.0) >= 10:  # beyond nearest_rank
            return float(q)
    return None


def nearest_rank(values: list[float], q: float | None) -> float:
    v = sorted(values)
    if q is None:
        return v[-1]
    return v[max(0, math.ceil(q / 100.0 * len(v)) - 1)]


def source_digest() -> str:
    """sha256 over the engine's Python sources — identifies the code
    under test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    for p in sorted(ENGINE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_probe_s() -> float:
    """Seconds a fixed single-threaded Python loop takes: recorded with
    every result so run-to-run host speed can be told apart from the
    code's own variance (it is not used to adjust any metric)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i % 7
    return time.perf_counter() - t0


def reap(marker: str, timeout: float = 30.0) -> list[int]:
    """Wait for every process carrying ``PERFBENCH_RUN=marker`` in its
    environment (the JVM and the Python workers it forked) to end;
    kill what outlives ``timeout``. Returns the pids that had to be
    killed."""
    me = os.getpid()
    needle = f"PERFBENCH_RUN={marker}".encode()

    def alive() -> list[int]:
        pids = []
        for d in os.listdir("/proc"):
            if not d.isdigit() or int(d) == me:
                continue
            try:
                with open(f"/proc/{d}/environ", "rb") as f:
                    if needle in f.read().split(b"\0"):
                        pids.append(int(d))
            except OSError:
                continue
        return pids

    deadline = time.time() + timeout
    while time.time() < deadline:
        if not alive():
            return []
        time.sleep(0.2)
    killed = alive()
    for pid in killed:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while alive() and time.time() < deadline + 10:
        time.sleep(0.2)
    return killed


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.run_id = f"{self.workload}-s{self.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
        self.work = HERE / ".work" / self.run_id
        self.out_dir = HERE / ".out"
        self.sf = args.sf
        self.data_dir = str(DATA / self.sf)
        self.cores = len(os.sched_getaffinity(0))
        self.failures: dict[str, str] = {}
        self.runs: dict[str, int] = {}  # executions per op / request kind
        self.raised: dict[str, int] = {}
        self.detail: dict = {}
        self.tracer = None
        self.store = None
        self.counters: dict = {}
        self.layer_passes: list[dict] = []

    # -- environment ----------------------------------------------------

    def prepare_env(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        self.out_dir.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        import tempfile

        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PERFBENCH_RUN"] = self.run_id
        # JVMs keep a perf-data file in /tmp whatever java.io.tmpdir says;
        # the benchmark writes only inside its checkout
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        sys.path.insert(0, str(ROOT))

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
            ),
        }
        if self.traced:
            # one lake pass starts hundreds of stages; the defaults
            # (1000 stages / 100000 tasks) would evict inside an op
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
            })
        return conf

    # -- set-up ---------------------------------------------------------

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext()

    def setup_first(self, inputs_s: float) -> float:
        if self.traced:
            import tracing as T

            self.tracer = T.Tracer(self.run_id)
        with self.span("session.start"):
            from data_mastery_pipeline_spark.allqueries import register_all

            register_all()
            from data_mastery_pipeline_spark.session import get_spark

            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=self.spark_conf())
        if self.workload == "serve_warm":
            if self.traced:
                import tracing as T

                T.install_layers(self.tracer, self.counters)  # times the MV refreshes
            try:
                with self.span("session.warm"):
                    self.serve = W.Serve(self.spark, self.data_dir, str(self.work / "serve"))
                    self.detail["build_s"] = self.serve.build()
            finally:
                if self.traced:
                    self.tracer.uninstall()
        ready = time.perf_counter()
        # process start → ready, minus the input fingerprint check
        return self.age_at_start + (ready - self.t_start) - inputs_s

    # -- passes ---------------------------------------------------------

    def record_failure(self, name: str, why: str) -> None:
        self.failures.setdefault(name, why[:500])

    def executed(self, name: str, ok: bool) -> None:
        self.runs[name] = self.runs.get(name, 0) + 1
        if not ok:
            self.raised[name] = self.raised.get(name, 0) + 1

    def failed_count(self, check_failed: set[str]) -> int:
        """Executions that raised, plus every execution of an op whose
        output check failed."""
        return sum(
            self.runs[k] if k in check_failed else self.raised.get(k, 0)
            for k in self.runs
        )

    def lake_pass(self, pass_no: int, capture: dict | None, traced: bool) -> tuple[float, list]:
        from data_mastery_pipeline_spark.registry import QUERIES

        total, lat = 0.0, []
        per_op: dict[str, dict] = {}
        for name in W.lake_order(self.seed, pass_no):
            m0 = self.store.mark() if traced else None
            try:
                with self.span("op", op=name) if traced else nullcontext():
                    t0 = time.perf_counter()
                    df = QUERIES[name](self.spark, self.data_dir)
                    t1 = time.perf_counter()
                    m1 = self.store.mark() if traced else None
                    t1b = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as ex:  # an op that raises is a failed op
                self.executed(name, False)
                self.record_failure(name, f"{type(ex).__name__}: {ex}")
                continue
            self.executed(name, True)
            build, exe = t1 - t0, t2 - t1b
            total += build + exe
            lat.append((name, build + exe))
            if traced:
                m2 = self.store.mark()
                read = self.store.read(m0, m2)
                per_op[name] = {
                    "build_s": build, "exec_s": exe, "wall_s": build + exe,
                    "eager_jobs": m1[0] - m0[0], "read": read,
                }
                if name == "near_dup_clusters":
                    from data_mastery_pipeline_spark.dedup import components

                    per_op[name]["cc_rounds"] = len(components.LAST_RUN_STATS)
            if capture is not None:
                try:
                    capture[name] = W.capture(df)
                except Exception as ex:
                    capture[name] = ex
        if traced:
            self.layer_passes.append({"ops": per_op})
        return total, lat

    def serve_pass(self, batch_no: int, traced: bool) -> tuple[float, list]:
        total, lat = 0.0, []
        kinds: dict[str, list[float]] = {k: [] for k in W.SERVE_KINDS}
        reads = []
        hits0 = self.serve.cache.stats()
        for kind, param in self.serve.requests(self.seed, batch_no):
            m0 = self.store.mark() if traced else None
            try:
                with self.span("request", kind=kind) if traced else nullcontext():
                    t0 = time.perf_counter()
                    self.serve.run(kind, param)
                    dt = time.perf_counter() - t0
            except Exception as ex:
                self.executed(kind, False)
                self.record_failure(kind, f"{type(ex).__name__}: {ex}")
                continue
            self.executed(kind, True)
            total += dt
            lat.append((kind, dt))
            kinds[kind].append(dt)
            if traced:
                reads.append((dt, self.store.read(m0, self.store.mark())))
        if traced:
            hits1 = self.serve.cache.stats()
            self.layer_passes.append({
                "kinds": kinds, "reads": reads,
                "cache_hits": hits1["hits"] - hits0["hits"],
                "cache_misses": hits1["misses"] - hits0["misses"],
            })
        return total, lat

    def run_pass(self, n: int, capture=None, traced=False):
        if traced:
            import tracing as T

            T.install_layers(self.tracer, self.counters)
        c0 = dict(self.counters)
        t0 = time.perf_counter()
        try:
            with self.span("pass", n=n, traced=traced):
                if self.workload == "lake_lifecycle":
                    out = self.lake_pass(n, capture, traced)
                else:
                    out = self.serve_pass(n, traced)
        finally:
            if traced:
                self.tracer.uninstall()
        if traced:
            self.layer_passes[-1].update({
                "start": t0, "end": time.perf_counter(), "pass_s": out[0],
                "counters": {k: v - c0.get(k, 0) for k, v in self.counters.items()},
            })
        return out

    # -- checks ---------------------------------------------------------

    def check_lake(self, captured: dict) -> set[str]:
        bad = set()
        con = W.duck_connect(self.data_dir)
        for name in W.LAKE_OPS:
            got = captured.get(name)
            if got is None:
                continue  # the op itself raised; already counted
            try:
                why = (
                    f"{type(got).__name__}: {got}" if isinstance(got, Exception)
                    else W.check_oracle(con, name, got)
                )
            except Exception as ex:
                why = f"oracle {type(ex).__name__}: {ex}"
            if why:
                self.record_failure(name, why)
                bad.add(name)
        con.close()
        return bad

    def check_corpus(self) -> bool:
        """Run the corpus lifecycle once for its stage counts (the
        corpus.stage_rows.* layer metrics, so traced runs only: the
        pipeline is no part of a timed pass); True when they differ from
        the pinned counts or the pipeline raised."""
        name = "corpus_pipeline"
        try:
            rows, why = W.check_corpus(self.spark, self.data_dir, self.sf, str(self.work / "corpus"))
            self.detail["corpus_rows"] = rows
        except Exception as ex:
            why = f"{type(ex).__name__}: {ex}"
        self.executed(name, True)
        if why:
            self.record_failure(name, why)
        return bool(why)

    # -- layer metrics ----------------------------------------------------

    def layer_metrics(self, untraced_passes: list[float], traced_passes: list[float]) -> dict:
        import tracing as T

        spans = self.tracer.spans
        first = lambda n: next((s["end"] - s["start"] for s in spans if s["name"] == n), 0.0)  # noqa: E731
        per_pass = []
        for lp in self.layer_passes:
            a, b = lp["start"], lp["end"]
            inside = [s for s in spans if s["end"] is not None and a <= s["start"] and s["end"] <= b]
            sec = lambda n: T.layer_seconds(inside, n)  # noqa: E731
            count = lambda n: sum(1 for s in inside if s["name"] == n)  # noqa: E731
            m = {k: 0.0 for k in LAYER_UNITS}
            ctr = lp["counters"]
            if "ops" in lp:
                ops = lp["ops"]
                reads = [o["read"] for o in ops.values()]
                m.update(T.summarize(reads, sum(o["wall_s"] for o in ops.values()), self.cores))
                m["queries.build_s"] = sum(o["build_s"] for o in ops.values())
                m["queries.exec_s"] = sum(o["exec_s"] for o in ops.values())
                m["queries.eager_jobs"] = sum(o["eager_jobs"] for o in ops.values())
                for name, o in ops.items():
                    m[f"op.{name}_s"] = o["wall_s"]
                m["dedup.cc_rounds"] = ops.get("near_dup_clusters", {}).get("cc_rounds", 0)
                for layer, op in W.CODEC_OPS.items():
                    stages = ops.get(op, {}).get("read", {}).get("stages", [])
                    m[layer] = sum(st["run_ms"] for st in stages) / 1000.0
            else:
                reads = [r for _, r in lp["reads"]]
                m.update(T.summarize(reads, sum(dt for dt, _ in lp["reads"]), self.cores))
                med = lambda xs: statistics.median(xs) * 1000.0 if xs else 0.0  # noqa: E731
                m["search.query_ms"] = med(lp["kinds"]["search"])
                m["similarity.ann_query_ms"] = med(lp["kinds"]["ann"])
                m["rescache.hit_ms"] = med(lp["kinds"]["cache"])
                m["mv.answer_ms"] = med(lp["kinds"]["mv"])
                looked = lp["cache_hits"] + lp["cache_misses"]
                m["rescache.hit_rate"] = lp["cache_hits"] / looked if looked else 0.0
            writes = [s["end"] - s["start"] for s in inside if s["name"] == "txlog.write"]
            m["txlog.commits"] = ctr.get("txlog.commits", 0)
            m["txlog.files_written"] = ctr.get("txlog.files_written", 0)
            m["txlog.bytes_written"] = ctr.get("txlog.bytes_written", 0)
            m["txlog.commit_ms_p50"] = statistics.median(writes) * 1000.0 if writes else 0.0
            m["txlog.write_amp"] = (
                m["txlog.bytes_written"] / m["tables.scan_bytes"] if m["tables.scan_bytes"] else 0.0
            )
            m["streaming.drain_s"] = sec("streaming.drain")
            m["streaming.batches"] = ctr.get("streaming.batches", 0)
            m["streaming.s_per_batch"] = (
                m["streaming.drain_s"] / m["streaming.batches"] if m["streaming.batches"] else 0.0
            )
            m["checkpointing.calls"] = count("checkpointing.truncate_lineage")
            m["checkpointing.s"] = sec("checkpointing.truncate_lineage")
            m["dedup.cc_s"] = sec("dedup.cc")
            for st in W.RUNLOG_STAGES:
                m[f"pipeline.stage_s.{st}"] = sum(
                    s["end"] - s["start"] for s in inside
                    if s["name"] == "pipeline.stage" and s.get("stage") == st
                )
            per_pass.append(m)
        out = {k: statistics.median(p[k] for p in per_pass) for k in LAYER_UNITS}
        out["session.start_s"] = first("session.start")
        out["session.warm_s"] = first("session.warm")
        out["mv.refresh_s"] = T.layer_seconds(spans, "mv.refresh")  # serve_warm set-up
        for st, n in self.detail.get("corpus_rows", {}).items():
            out[f"corpus.stage_rows.{st}"] = n
        out["trace.overhead_frac"] = (
            statistics.median(traced_passes) / statistics.median(untraced_passes) - 1.0
        )
        out["similarity.recall_at_10"] = self.detail.get("facts", {}).get("similarity.recall_at_10", 0.0)
        out.update(self.dedup_counts())
        return out

    def dedup_counts(self) -> dict:
        """Candidate and verified pair counts of the near-dup blocking,
        counted off the returned frames after the timed passes (so the
        extra jobs never land inside an op's status-store range)."""
        if "near_dup_clusters" not in W.LAKE_OPS or self.workload != "lake_lifecycle":
            return {}
        from data_mastery_pipeline_spark.dedup import ngram
        from data_mastery_pipeline_spark.tables import load_table

        docs = load_table(self.spark, "documents", self.data_dir)
        kw = dict(block_cols=("lang",), length_tolerance=0.2)
        verified = ngram.jaccard_pairs_celled(docs, threshold=0.35, **kw).count()
        candidates = ngram.jaccard_pairs_celled(docs, threshold=0.0, **kw).count()
        return {
            "dedup.candidate_pairs": candidates,
            "dedup.verified_pairs": verified,
            "dedup.verified_per_candidate": verified / candidates if candidates else 0.0,
        }

    # -- main -------------------------------------------------------------

    def execute(self) -> dict:
        self.age_at_start, self.t_start = process_age_s(), time.perf_counter()
        load0 = os.getloadavg()
        self.prepare_env()
        t = time.perf_counter()
        tables = verify_inputs(DATA, self.sf)
        inputs_s = time.perf_counter() - t
        self.detail["inputs"] = {
            "dir": os.path.relpath(self.data_dir, ROOT),
            "verify_s": inputs_s,
            "rows": {k: v["rows"] for k, v in tables.items()},
        }
        setup_s = self.setup_first(inputs_s)
        if self.traced:
            import tracing as T

            self.store = T.StatusStore(self.spark)

        captured: dict = {}
        cold_s, _ = self.run_pass(0, capture=captured)
        untraced, traced, lat = [], [], []
        t0 = time.perf_counter()
        n = 1
        while True:
            use_trace = self.traced and n % 2 == 0
            p, l_ = self.run_pass(n, traced=use_trace)
            (traced if use_trace else untraced).append(p)
            if not use_trace:
                lat.extend(l_)
            n += 1
            enough = len(untraced) + len(traced) >= MIN_WARM_PASSES[self.workload]
            if self.traced:
                enough = enough and traced and untraced
            if enough and time.perf_counter() - t0 >= self.args.seconds:
                break
        measured_s = time.perf_counter() - t0

        # -- untimed output checks, once per run
        t_checks = time.perf_counter()
        if self.workload == "lake_lifecycle":
            check_failed = self.check_lake(captured)
            if self.traced and self.check_corpus():
                check_failed.add("corpus_pipeline")
        else:
            fails, facts = self.serve.checks()
            self.detail["facts"] = facts
            check_failed = set()
            for name, why in fails.items():
                self.record_failure(name, why)
                check_failed.add(W.CHECK_KIND[name])
        attempted = sum(self.runs.values())
        failed = self.failed_count(check_failed)
        self.detail["checks_s"] = time.perf_counter() - t_checks

        jvm = self.jvm_pid()
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm) if jvm else 0.0}
        by_name: dict[str, list[float]] = {}
        for name, dt in lat:
            by_name.setdefault(name, []).append(dt)
        if self.workload == "lake_lifecycle":
            # a lifecycle user waits on the whole pass, not on one op: the
            # request is the warm pass (a single op's latency is a 1-6 s
            # sample of the host's speed, too short to be steady; per-op
            # times are the op.*_s layer metrics)
            p50_s, q = statistics.median(untraced), None
            tail_s = max(untraced)
        else:
            # fixed by the samples every run yields, not by this run's count
            q = tail_percentile(MIN_WARM_PASSES[self.workload] * sum(W.SERVE_MIX.values()))
            times = [dt for _, dt in lat]
            p50_s, tail_s = statistics.median(times), nearest_rank(times, q)
        e2e = {
            "setup_s": setup_s,
            "cold_pass_s": cold_s,
            "pass_s": statistics.median(untraced),
            "request_p50_ms": p50_s * 1000.0,
            "request_tail_ms": tail_s * 1000.0,
        }
        layers = None
        if self.traced:
            layers = self.layer_metrics(untraced, traced)
            layers["peak_rss_mb"] = sum(rss.values())
        import tracing as T

        wrappers_left = T.installed_wrappers()
        if wrappers_left:
            raise RuntimeError(f"engine attributes still wrapped after the run: {wrappers_left}")
        self.detail.update({
            "run_id": self.run_id,
            "workload": self.workload,
            "seed": self.seed,
            "trace": int(self.traced),
            "seconds": self.args.seconds,
            "measured_s": measured_s,
            "host": {
                "nproc": self.cores,
                "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                "driver_mem": self.spark.conf.get("spark.driver.memory"),
                "loadavg_start": list(load0),
                "loadavg_end": list(os.getloadavg()),
                "probe_s": host_probe_s(),
                "git_commit": git_commit(),
                "engine_sha256": source_digest(),
                "pyspark": __import__("pyspark").__version__,
                "java": self.java_version(),
                "python": platform.python_version(),
            },
            "wrappers_installed": self.tracer.installs if self.tracer else 0,
            "ops_failed_frac": failed / max(1, attempted),
            "executions": self.runs,
            "failures": self.failures,
            "warm_pass_samples_s": untraced,
            "traced_pass_samples_s": traced,
            "request_samples": len(untraced) if self.workload == "lake_lifecycle" else len(lat),
            "vm_hwm_mb": rss,
            "latency_s": by_name,
            "request_tail_percentile": q if q is not None else 100.0,
            "end_to_end": e2e,
        })
        if self.traced:
            spans_path = self.out_dir / f"{self.run_id}.spans.jsonl"
            self.tracer.dump(str(spans_path))
            self.detail["spans"] = {
                "path": os.path.relpath(spans_path, ROOT),
                "count": len(self.tracer.spans),
            }
        metrics = layers if self.traced else e2e
        units = LAYER_UNITS if self.traced else E2E_UNITS
        return {
            "correct": failed == 0 and not self.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }

    def java_version(self) -> str:
        props = self.spark.sparkContext._jvm.java.lang.System
        return f"{props.getProperty('java.vm.name')} {props.getProperty('java.runtime.version')}"

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        killed = reap(self.run_id)
        if killed:
            log(f"killed lingering processes {killed}")
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=SCALES, default=SCALES[0], help="input scale (default %(default)s)")
    args = ap.parse_args(argv)
    if not (ENGINE / "__init__.py").is_file() or not (ROOT / "tools" / "typenorm.py").is_file():
        log(f"engine sources not found under {ROOT}; run from a full checkout")
        return 2
    run = Run(args)
    try:
        result = run.execute()
    finally:
        run.shutdown()
    run.detail["process_s"] = process_age_s()
    detail_path = run.out_dir / f"{run.run_id}.json"
    payload = {"detail": run.detail, "result": result}
    detail_path.write_text(json.dumps(payload, indent=1, default=str))
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
