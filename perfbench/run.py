"""End-to-end benchmark of the FilmDB engine, with a per-layer trace.

Usage (from the repository root):

    python3 perfbench/run.py --workload bi_session --seed 1 --seconds 5 --trace 0

One measuring process, one closed-loop client, ``local[N]`` with N = the
CPUs this process may use. The measuring process runs as the child of a
supervisor that, on every way out, stops and waits for each process of
the run (the JVM and its Python workers included). Inputs are generated
under ``.perfbench/`` at the 0.01 scale factor (``datagen.py``);
``--seed`` fixes the request order and the perturbation of the changed
input, so every seed serves the same multiset of requests. A request is
one of:

- a registry entry (``queries.registry()``) materialized through the
  noop sink, followed by ``runtime.release_persisted()``;
- one ETL cycle: in a fresh session, a cold star build, the idempotent
  warehouse upsert and the incremental summary refresh (``plans.etl``);
- one structured-streaming job (a ``streaming.jobs`` registry entry).

Workloads (each run does whole passes over its pool, in a seeded order,
until ``--seconds`` have been measured):

- ``bi_session``: the dashboard user's refresh-and-ad-hoc loop. Each
  pass runs one streaming job and views, DAX-style metrics, SCD and
  ad-hoc corpus queries over the star cached in set-up, in a seeded
  order, and then one ETL cycle. The cycle comes last because its
  fresh session's star displaces the cached one, which the query after
  it would rebuild. ETL cycles alternate between a copy of the input
  whose lineitem prices changed in a few seed-chosen months and the
  base input, so every upsert updates real rows.
- ``curation``: dedup, similarity, text, BPE and quality operators over
  ``documents``/``embeddings`` (Python/Arrow boundary, artifact store).
  It bypasses the star, the warehouse and streaming.

``setup_s`` is the session start, the median of three repeated
per-session set-ups (a new session reading its source tables), and a
cold first pass over the pool: the star build, the initial warehouse
load and one upsert cycle on the changed input (the first upsert into
a non-empty warehouse runs cold paths) for ``bi_session``, the build of
every artifact the pool reads for ``curation``. Outputs are compared
with the DuckDB oracles outside every timed span: each distinct entry
once, on the cold pass, and the warehouse tables after every ETL cycle.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
``end_to_end`` list of ``BENCHMARK.json``, with ``--trace 1`` the
``per_layer`` list (spans, Spark status-store harvests and streaming
progress, gathered only in that mode; spans are written to
``.perfbench/spans-<workload>-seed<n>.json``). Per-layer engine and
query figures are means per timed request; sink and streaming figures
are totals per timed pass. The line before it carries the error rate,
the request-tail percentile and the set-up breakdown.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "filmdb_data_warehouse___power_bi_dashboard_spark"

ETL = "etl_cycle"
POOLS = {
    "bi_session": [
        "view_kpi_magasin_mois",
        "metrics_reachat_par_magasin",
        "scd2_point_in_time_report",
        "rfm",
        "stream_tumbling_hour",
        ETL,
    ],
    "curation": [
        "dedup_minhash_pairs",
        "dedup_embedding_pairs",
        "ann_topk_pq",
        "text_keywords_by_source",
        "text_bpe_tokenize",
        "text_bm25",
        "corpus_quality_deciles",
    ],
}
SOURCES = {
    "bi_session": ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"],
    "curation": ["documents", "embeddings"],
}
SETUP_REPEATS = 3


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """1g, or a quarter of physical RAM if that is less: the inputs are
    small (the cached star is ~1 MB), and a heap the run fills makes
    the JVM's peak resident memory repeat from run to run."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024**2
    return f"{min(1024, total_mb // 4)}m"


def configure_environment(work: str) -> dict[str, str]:
    """Everything the JVM and its Python workers inherit. Must run
    before pyspark starts the JVM."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_DRIVER_MEM": _driver_mem(),
        "SPARK_LOCAL_DIRS": local,
    }
    os.environ.update(env)
    # Python workers import the package by name.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # Streaming checkpoints and sinks use tempfile.mkdtemp.
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # No JVM, the launcher's included, may write /tmp/hsperfdata_*.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return env


class Bench:
    def __init__(self, args, work: str):
        from probes import Tracer

        self.args = args
        self.work = work
        self.rng = random.Random(args.seed)
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.latencies: list[float] = []
        self.by_entry: dict[str, list[float]] = defaultdict(list)
        self.failed = 0
        self.check_failures: dict[str, str] = {}
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.check_s = 0.0
        self.n_requests = 0

    # -- session -----------------------------------------------------------

    def start(self) -> None:
        from check import Checker
        from filmdb_data_warehouse___power_bi_dashboard_spark.queries import (
            oracles,
            registry,
        )
        from filmdb_data_warehouse___power_bi_dashboard_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions": java_opts,
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.session_start_s = time.perf_counter() - t0
        self.reg = registry()
        self.checker = Checker(oracles())
        if self.trace:
            from probes import EngineProbe, streaming_listener

            self.probe = EngineProbe(self.spark)
            self.listener = streaming_listener()

    def new_session(self):
        s = self.spark.newSession()
        if self.trace:
            s.streams.addListener(self.listener)
        return s

    def setup_sessions(self, sf: str):
        """SETUP_REPEATS fresh sessions, each reading the workload's
        source tables. Returns the last session and the timings."""
        from filmdb_data_warehouse___power_bi_dashboard_spark.sources.catalog import (
            read_table,
        )

        setups = []
        for k in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with self.tracer.span("setup", repeat=k):
                session = self.new_session()
                with self.tracer.span("sources.catalog.read_table"):
                    for t in SOURCES[self.args.workload]:
                        read_table(session, sf, t).write.format("noop").mode(
                            "overwrite"
                        ).save()
            setups.append(time.perf_counter() - t0)
        return session, setups

    # -- requests ----------------------------------------------------------

    def request(self, name: str, call):
        """Time ``call`` as one request; with tracing, harvest the
        engine numbers it caused. Returns (seconds, result, error)."""
        tr = self.tracer
        self.n_requests += 1
        tr.request_id = f"{name}#{self.n_requests}"
        if self.trace:
            # Labels the request's jobs in Spark's status store. Jobs the
            # package starts from its own thread pools carry no group, so
            # the harvest goes by job id instead.
            self.spark.sparkContext.setJobGroup(name, name)
            self.probe.mark()
            self.listener.take()
        result, err, req = None, None, None
        t0 = time.perf_counter()
        try:
            with tr.span("request", entry=name) as req:
                result = call()
        except Exception as exc:  # a failed request is counted, not fatal
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        wall = time.perf_counter() - t0
        tr.request_id = None
        self.last_request = req
        if req is not None:
            req["engine"] = self.probe.harvest(wall)
            progress = self.listener.take()
            if progress:
                from probes import streaming_stats

                req["streaming"] = streaming_stats(progress, wall)
        return wall, result, err

    def entry(self, spark, name: str, sf: str, collect: bool = False):
        """One registry request: build the frame, materialize it (noop
        sink, or ``collect`` on the checked cold pass), release the
        operators' persists."""
        from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import (
            release_persisted,
        )

        tr = self.tracer

        def call():
            with tr.span("queries.plan"):
                df = self.reg[name](spark, sf)
            with tr.span("queries.execute"):
                if collect:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
                    rows = None
            with tr.span("runtime.release_persisted") as sp:
                released = release_persisted()
                if sp is not None:
                    sp["released"] = released
            return df, rows

        return self.request(name, call)

    def check_entry(self, name: str, result, err, sf: str) -> None:
        from check import Collected

        t0 = time.perf_counter()
        if err is not None:
            self.check_failures[name] = err
        else:
            df, rows = result
            ok, why = self.checker.entry(name, Collected.from_spark(df, rows), sf)
            if not ok:
                self.check_failures[name] = why
        self.check_s += time.perf_counter() - t0

    def cold_pass(self, session, pool: list[str], sf: str) -> float:
        """Each registry entry once, collected and checked; returns the
        summed request time (checks excluded)."""
        cold = 0.0
        with self.tracer.span("cold_pass"):
            for name in self.rng.sample(pool, len(pool)):
                wall, result, err = self.entry(session, name, sf, collect=True)
                cold += wall
                self.check_entry(name, result, err, sf)
        return cold

    def timed(self, run_pass) -> None:
        """Whole passes until ``--seconds`` of passes were measured.
        ``run_pass`` returns [(name, seconds, error)] and an optional
        check to run after the pass, outside its timing."""
        from probes import tree_cpu_seconds

        measured = 0.0
        while measured < self.args.seconds:
            cpu0, t0 = tree_cpu_seconds(), time.perf_counter()
            with self.tracer.span("pass"):
                served, after = run_pass()
            dt = time.perf_counter() - t0
            self.pass_cpu_s.append(tree_cpu_seconds() - cpu0)
            self.pass_s.append(dt)
            measured += dt
            for name, wall, err in served:
                self.latencies.append(wall)
                self.by_entry[name].append(round(wall, 3))
                if err is not None:
                    self.check_failures.setdefault(name, err)
                if err is not None or name in self.check_failures:
                    self.failed += 1
            if after is not None:
                after()

    def setup_total(self, setups: list[float], cold: float) -> float:
        self.setup_parts = {
            "session_start_s": round(self.session_start_s, 3),
            "setup_repeats_s": [round(s, 3) for s in setups],
            "cold_pass_s": round(cold, 3),
        }
        return self.session_start_s + statistics.median(setups) + cold

    # -- workloads ---------------------------------------------------------

    def run_curation(self, sf: str) -> float:
        if self.trace:
            self.artifact_costs(sf)
        session, setups = self.setup_sessions(sf)
        pool = POOLS["curation"]
        cold = self.cold_pass(session, pool, sf)

        def one_pass():
            served = []
            for name in self.rng.sample(pool, len(pool)):
                wall, _, err = self.entry(session, name, sf)
                served.append((name, wall, err))
            return served, None

        self.timed(one_pass)
        return self.setup_total(setups, cold)

    def artifact_costs(self, sf: str) -> None:
        """Traced runs only: per-family artifact costs. First touch
        goes through the empty store; the cold builds then bypass it,
        except where a builder derives from a stored record."""
        from filmdb_data_warehouse___power_bi_dashboard_spark.artifacts import (
            artifact_first_touch,
            time_artifact_builds,
        )
        from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import (
            release_persisted,
        )

        session = self.new_session()
        with self.tracer.span("artifacts.first_touch"):
            touches = {k: max(v, 0.0) for k, v in artifact_first_touch(session, sf).items()}
        with self.tracer.span("artifacts.build"):
            builds = {k: v.get("sec", 0.0) for k, v in time_artifact_builds(session, sf).items()}
        release_persisted()
        for kind, costs in (("build_s", builds), ("first_touch_s", touches)):
            self.layer[f"artifacts.{kind}"].append(sum(costs.values()))
            for fam, sec in costs.items():
                self.layer[f"artifacts.{kind}.{fam}"].append(sec)

    def run_bi(self, base: str) -> float:
        import datagen
        import pandas as pd

        from filmdb_data_warehouse___power_bi_dashboard_spark.plans import etl

        changed = os.path.join(self.work, "changed")
        datagen.copy_tables(base, changed)
        lineitem = pd.read_parquet(os.path.join(base, "lineitem.parquet"))
        perturbed, months = datagen.perturb_lineitem(lineitem, self.args.seed)
        perturbed.to_parquet(os.path.join(changed, "lineitem.parquet"), index=False)
        dw = os.path.join(self.work, "warehouse")
        tr = self.tracer

        session, setups = self.setup_sessions(base)
        t0 = time.perf_counter()
        with tr.span("cold_pass"):
            with tr.span("plans.etl.build_star_frames"):
                etl.build_star_frames(session, base)
            # Initial warehouse load; its writes fill the cached star the
            # dashboard queries read.
            with tr.span("plans.etl.build_warehouse"):
                etl.build_warehouse(session, base, dw)
            with tr.span("plans.etl.write_summary_partitioned"):
                etl.write_summary_partitioned(session, base, dw)
        cold = time.perf_counter() - t0
        self.check_warehouse(dw, base)
        # The first upsert into a non-empty warehouse runs cold paths
        # (~5 s slower than the next); timed cycles all start warm.
        with tr.span("cold_pass"):
            wall, _, err = self.etl_cycle(changed, dw, months)
        cold += wall
        if err is not None:
            self.check_failures[ETL] = err
        self.check_warehouse(dw, changed)
        queries = [n for n in POOLS["bi_session"] if n != ETL]
        cold += self.cold_pass(session, queries, base)

        inputs = [base, changed]

        def one_pass():
            served = []
            sf = inputs[len(self.pass_s) % 2]
            for name in self.rng.sample(queries, len(queries)):
                wall, _, err = self.entry(session, name, base)
                served.append((name, wall, err))
            wall, _, err = self.etl_cycle(sf, dw, months)
            served.append((ETL, wall, err))

            def after():
                if not self.check_warehouse(dw, sf):
                    self.failed += 1  # the ETL request wrote wrong tables

            return served, after

        self.timed(one_pass)
        return self.setup_total(setups, cold)

    def etl_cycle(self, sf: str, dw: str, months: list[str]):
        from filmdb_data_warehouse___power_bi_dashboard_spark.plans import etl
        from filmdb_data_warehouse___power_bi_dashboard_spark.runtime import (
            release_persisted,
        )
        from probes import file_index, sink_stats

        tr = self.tracer
        session = self.new_session()
        before = file_index(dw) if self.trace else None

        def call():
            with tr.span("plans.etl.build_star_frames"):
                star = etl.build_star_frames(session, sf)
            with tr.span("plans.etl.build_warehouse"):
                etl.build_warehouse(session, sf, dw)
            with tr.span("plans.etl.refresh_summary_incremental"):
                etl.refresh_summary_incremental(session, sf, dw, months)
            with tr.span("runtime.release_persisted"):
                release_persisted()
                # The cycle's star is cached in the shared cache manager;
                # the dashboard session's star stays.
                for df in star.values():
                    df.unpersist()

        out = self.request(ETL, call)
        if self.trace:
            self.last_request["sinks"] = sink_stats(before, file_index(dw))
        return out

    def check_warehouse(self, dw: str, sf: str) -> bool:
        t0 = time.perf_counter()
        ok = True
        for table, (good, why) in self.checker.warehouse(dw, sf).items():
            if not good:
                ok = False
                self.check_failures[f"warehouse.{table}"] = why
        self.check_s += time.perf_counter() - t0
        return ok

    # -- reporting ---------------------------------------------------------

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        from probes import peak_rss_mb

        # The highest percentile with at least ten requests beyond it,
        # when that lies above the median (21 or more requests);
        # otherwise the slowest request.
        lat = sorted(self.latencies)
        tail_idx = len(lat) - 11 if len(lat) > 20 else len(lat) - 1
        self.tail_pct = 100.0 * (tail_idx + 1) / len(lat)
        return {
            "setup_s": setup_s,
            "run_s": statistics.median(self.pass_s),
            "request_p50_s": statistics.median(lat),
            "request_tail_s": lat[tail_idx],
            "cpu_s": statistics.median(self.pass_cpu_s),
            "peak_rss_mb": peak_rss_mb(),
        }

    def per_layer(self) -> dict[str, float]:
        spans = self.tracer.spans
        timed = [s for s in spans if self._in_timed_pass(s)]
        vals: dict[str, list[float]] = defaultdict(list, self.layer)
        for s in timed:
            if s["name"] == "request":
                for k, v in s.get("engine", {}).items():
                    vals[k].append(v)
            elif s["name"] in ("queries.plan", "queries.execute", "runtime.release_persisted"):
                vals[f"{s['name']}_s"].append(s["end"] - s["start"])
                if "released" in s:
                    vals["runtime.persists_released"].append(s["released"])
        for key in (
            "plans.etl.build_star_frames",
            "plans.etl.build_warehouse",
            "plans.etl.refresh_summary_incremental",
        ):
            vals[f"{key}_s"] = self.tracer.durations(key)
        out = {k: statistics.fmean(v) if v else 0.0 for k, v in vals.items()}
        # Sink and streaming figures: totals per timed pass.
        totals: dict[str, float] = defaultdict(float)
        for s in timed:
            for k, v in {**s.get("sinks", {}), **s.get("streaming", {})}.items():
                totals[k] += v
        n_pass = len(self.pass_s)
        out.update({k: v / n_pass for k, v in totals.items()})
        if totals.get("sources.sinks.bytes_written"):
            amps = [s["sinks"]["sources.sinks.write_amplification"] for s in timed if "sinks" in s]
            out["sources.sinks.write_amplification"] = statistics.fmean(amps)
        out["session.start_s"] = self.session_start_s
        out["traced_run_s"] = statistics.median(self.pass_s)
        return out

    def _in_timed_pass(self, span) -> bool:
        spans = self.tracer.spans
        p = span["parent"]
        while p is not None:
            if spans[p]["name"] == "pass":
                return True
            p = spans[p]["parent"]
        return False


def _store_entries() -> set[str]:
    """Artifact-store records and scratch staging the package keeps
    under the repository's ``spark-warehouse``."""
    out = set()
    for sub in ("corpus_artifacts", "scratch"):
        d = os.path.join(ROOT, "spark-warehouse", sub)
        if os.path.isdir(d):
            out.update(os.path.join(d, e) for e in os.listdir(d))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(POOLS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.exists(spec_path):
        print(f"error: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path[:0] = [HERE, ROOT]

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    store_before = _store_entries()
    env = configure_environment(work)
    print(json.dumps({"workload": args.workload, "seed": args.seed, **env}), flush=True)
    bench = Bench(args, work)
    try:
        import datagen

        base = os.path.join(work, "base")
        datagen.write_tables(datagen.base_tables(), base)
        bench.start()
        if args.workload == "bi_session":
            setup_s = bench.run_bi(base)
        else:
            setup_s = bench.run_curation(base)
        source = bench.per_layer() if bench.trace else bench.end_to_end(setup_s)
        if bench.trace:
            spans_path = os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-seed{args.seed}.json"
            )
            with open(spans_path, "w") as fh:
                json.dump(bench.tracer.spans, fh)
    finally:
        # A stop signal can leave the JVM connection unusable; the files
        # are removed even if stopping Spark fails.
        try:
            if hasattr(bench, "checker"):
                bench.checker.close()
            if hasattr(bench, "spark"):
                bench.spark.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            for path in _store_entries() - store_before:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)

    attempted = len(bench.latencies)
    error_rate = bench.failed / attempted
    print(
        json.dumps(
            {
                "error_rate": error_rate,
                "requests": attempted,
                "passes": len(bench.pass_s),
                "request_tail_percentile": round(getattr(bench, "tail_pct", 100.0), 1),
                "setup": bench.setup_parts,
                "pass_s": [round(p, 3) for p in bench.pass_s],
                "request_s": bench.by_entry,
                "check_s": round(bench.check_s, 3),
                "check_failures": bench.check_failures,
            }
        ),
        flush=True,
    )
    wanted = spec["per_layer"] if bench.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(
        json.dumps(
            {
                "correct": not bench.check_failures and bench.failed == 0,
                "attempted": attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


# -- process supervision ---------------------------------------------------

# Set in the measuring child's environment.
CHILD_ENV = "PERFBENCH_MEASURE"
# Seconds the processes of a run get to end by themselves (the JVM exits
# once its driver's stdin closes) and then after SIGTERM, before SIGKILL.
GRACE_S = 20.0
PR_SET_PDEATHSIG = 1
PR_SET_CHILD_SUBREAPER = 36


class _Stop(BaseException):  # not caught as a failed request
    def __init__(self, signum: int):
        super().__init__(signum)
        self.signum = signum


def _raise_stop(signum, _frame):
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_IGN)
    raise _Stop(signum)


def _reap() -> bool:
    """Reap every child that has ended; True while any is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def _live_children() -> list[int]:
    from probes import proc_table

    me = os.getpid()
    return [pid for pid, (ppid, _, _) in proc_table().items() if ppid == me]


def _stop_all(pgid: int) -> None:
    """Return once every process of the run has ended and been reaped:
    wait, then SIGTERM, then SIGKILL the measuring child's process group
    and every child of this process."""
    for sig, wait_s in ((None, GRACE_S), (signal.SIGTERM, GRACE_S), (signal.SIGKILL, None)):
        if sig is not None:
            for kill, target in [(os.killpg, pgid)] + [(os.kill, p) for p in _live_children()]:
                try:
                    kill(target, sig)
                except ProcessLookupError:
                    pass
        deadline = None if wait_s is None else time.monotonic() + wait_s
        while _reap():
            if deadline is not None and time.monotonic() > deadline:
                break
            time.sleep(0.05)
        else:
            return


def _prctl(option: int, arg: int) -> None:
    ctypes.CDLL(None, use_errno=True).prctl(option, arg, 0, 0, 0)


def supervise() -> int:
    """Run the measurement in a child that leads a process group of its
    own, so the JVM and its Python workers belong to that group too. This
    process is their subreaper: a process orphaned when its parent exits
    becomes its child. Whichever way the run ends, or this process is
    told to stop, every process of the run is stopped and waited for
    before returning. Killed outright, it leaves the child a SIGTERM."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
        env={**os.environ, CHILD_ENV: "1"},
        start_new_session=True,
        preexec_fn=lambda: _prctl(PR_SET_PDEATHSIG, signal.SIGTERM),
    )
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _raise_stop)
    try:
        rc = child.wait()
    except _Stop as stop:
        # Let the child clean its work directory and stop Spark first.
        child.send_signal(signal.SIGTERM)
        try:
            child.wait(GRACE_S)
        except subprocess.TimeoutExpired:
            pass
        rc = 128 + stop.signum
    finally:
        _stop_all(child.pid)
    return rc


def measure() -> int:
    signal.signal(signal.SIGTERM, _raise_stop)
    try:
        return main()
    except _Stop as stop:
        return 128 + stop.signum


if __name__ == "__main__":
    sys.exit(measure() if os.environ.get(CHILD_ENV) else supervise())
