"""Layer-attributed benchmark of the engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from anywhere; it works on the checkout it lives in. Workloads:

- ``inventory_queries``: a fixed panel of inventory queries (reference
  core and extensions, modules interleaved), each constructed, planned
  and collected; ``--seconds`` sizes the panel. Set-up runs the panel
  once to warm the JVM, then the panel is timed ``QUERY_ROUNDS`` times,
  each round on its own copy of the inputs, so every round rebuilds the
  session caches and does the same work;
- ``index_lifecycle``: daily-delta cycles of a TrigramLM and a
  VectorIndex through their public methods, each ending in served
  reads, each in its own index directories; at least two, more for a
  ``--seconds`` beyond two cycles' time. The first cycle runs in a cold
  JVM, as a daily job does.

The seed generates the input tables (``datagen``) and the lifecycle's
retraction sets and served requests. The order of operations is fixed:
a seed-shuffled order moves the substrate builds and the JIT warm-up
from query to query, which swung the tail percentile by ±30 % between
seeds on a 4-CPU host. The latency percentiles pool every timed
operation of every round. Every operation's
output is checked after all operations have been timed: queries against
their DuckDB oracles, index states against in-memory rebuilds.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that records spans around calls into the engine's layers, reads
Spark's event log, and reports the per-layer metrics; it also writes a
per-operation × per-layer artifact to ``.perfbench/artifacts/``. The
last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; the lines before it give one line
per operation, failures, and a summary with the run's settings.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))  # the checkout
PACKAGE_DIR = os.path.join(ROOT, "lp_etl_plugins_spark")
sys.path.insert(0, ROOT)

from perfbench import metrics as M  # noqa: E402
from perfbench import workloads as W  # noqa: E402

QUERY_SF = 0.01  # query workloads' input scale
FIT_SF = 0.1  # second point of the traced run's fixed/per-row fit
INDEX_SF = 0.01  # documents/embeddings scale of the index workloads
SETUP_REPEATS = 3
QUERY_ROUNDS = 2  # timed passes over the query panel, after one warm-up pass
# costs.json holds each query's cost in a fresh application; the timed
# rounds run warm, so a panel sized to --seconds × this scale / rounds
# takes about --seconds over all rounds
QUERY_SECONDS_SCALE = 1.05
LIFECYCLE_CYCLE_SECONDS = 20  # about one cycle; --seconds buys cycles beyond the first two
LIFECYCLE_ROWS = 250  # documents / embeddings a lifecycle cycle absorbs
DRIVER_HEAP = "2g"  # session.get_spark's default (24g) exceeds a small host's memory


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Settings that must be in place before the JVM starts."""
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the engine by module path: put the checkout
    # on their path, whatever directory the benchmark was launched from
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    conf = ["--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp",
            f"--conf spark.sql.warehouse.dir={work}/warehouse"]
    if trace:
        conf += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


class Bench:
    def __init__(self, args, work: str) -> None:
        from perfbench import trace as TR

        self.args, self.work = args, work
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = TR.Tracer(job_count=self._jobs) if self.trace else TR.NullTracer()
        self.instr = None
        self.setup: list[dict[str, float]] = []
        self.info: dict = {}
        self.rows: list[dict] = []
        self.warm_ops: list = []
        self.cpus = os.cpu_count() or 4

    def _jobs(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())

    # -- set-up -------------------------------------------------------------

    def _start(self) -> None:
        from lp_etl_plugins_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.args.workload}", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")

    def _inputs(self, sf: float, rep: int) -> str:
        from perfbench import datagen

        return datagen.write_tables(
            os.path.join(self.work, "data", f"sf{sf}-{rep}"), self.args.seed, sf
        )

    def _warmup(self) -> None:
        """Query workloads run their panel once, on a copy of the inputs
        of their own; a failing query is left for the timed rounds to
        count. index_lifecycle does not warm up."""
        for op in self.warm_ops:
            try:
                op.run()
            except Exception:  # noqa: BLE001 - counted in the timed rounds
                traceback.print_exc(file=sys.stderr)
            gc.collect()

    def set_up(self) -> None:
        """Launch Spark; generate the inputs and prepare the workload
        ``SETUP_REPEATS`` times, each time in a fresh input directory,
        and keep the last; then warm up once. ``setup_s`` is launch plus
        warm-up plus the median repetition."""
        sf = self.sf_scale = QUERY_SF if self.args.workload in W.QUERY_WORKLOADS else INDEX_SF
        self._start()
        self.launch_s = time.perf_counter() - T_PROCESS
        for rep in range(SETUP_REPEATS):
            shutil.rmtree(os.path.join(self.work, "state"), ignore_errors=True)
            t0 = time.perf_counter()
            self.sf_dir = self._inputs(sf, rep)
            t1 = time.perf_counter()
            self._prepare()
            self.setup.append({"inputs": t1 - t0, "prepare": time.perf_counter() - t1})
        t2 = time.perf_counter()
        self._warmup()
        self.warmup_s = time.perf_counter() - t2

    def _prepare(self) -> None:
        """The timed rounds' operations: per round, the query panel on a
        fresh copy of the inputs, or a lifecycle cycle in fresh index
        directories."""
        from perfbench import engine_ops as E

        wl, seed = self.args.workload, self.args.seed
        if wl in W.QUERY_WORKLOADS:
            from lp_etl_plugins_spark import inventory

            members = W.members(wl, inventory.all_queries(), W.owners())
            budget = self.args.seconds * QUERY_SECONDS_SCALE / QUERY_ROUNDS
            names = W.panel(members, W.load_costs(), budget)
            self.info["queries"] = names

            def ops(tag):
                copy = shutil.copytree(self.sf_dir, f"{self.sf_dir}-{tag}")
                return E.query_ops(self.spark, copy, names, self.tracer)

            self.warm_ops = ops("warm")
            self.rounds = [ops(f"r{r}") for r in range(QUERY_ROUNDS)]
        else:
            self.corpus = E.Corpus(self.spark, self.sf_dir, seed, LIFECYCLE_ROWS)
            self.rounds = []
            for r in range(max(2, round(self.args.seconds / LIFECYCLE_CYCLE_SECONDS))):
                fams = E.lifecycle_ops(self.spark, self.corpus, self._cycle_dir(r))
                self.rounds.append([op for f in sorted(fams) for op in fams[f]])
        self.info["rounds"] = len(self.rounds)

    def _cycle_dir(self, r: int) -> str:
        return os.path.join(self.work, "state", "idx", f"c{r}")

    # -- measured pass ------------------------------------------------------

    def measure(self, rounds: list[list], tag: str) -> list[dict]:
        """Run the rounds' operations back to back (one closed-loop
        client); checks wait until every operation has been timed."""
        fs = None
        if self.trace and self.args.workload == "index_lifecycle":
            from perfbench.trace import FsWatch

            fs = self.fs = FsWatch(os.path.join(self.work, "state", "idx"))
        ops = [op for ops in rounds for op in ops]
        ids = [f"{tag}{r}:{k}:{op.name}" for r, ops in enumerate(rounds) for k, op in enumerate(ops)]
        rows = []
        for op_id, op in zip(ids, ops):
            if self.trace:
                self.tracer.op = op_id
            j0 = self._jobs()
            w0, t0 = time.time(), time.perf_counter()
            try:
                if self.trace:
                    with self.tracer.span(f"op.{op.name.split('.')[0]}"):
                        out, err = op.run(), None
                else:
                    out, err = op.run(), None
            except Exception as exc:  # a failed operation is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                out, err = None, f"{type(exc).__name__}: {str(exc)[:1500]}"
            t1, w1 = time.perf_counter(), time.time()
            rows.append({"op": op_id, "name": op.name, "start": t0, "end": t1, "epoch": (w0, w1),
                         "s": t1 - t0, "jobs": self._jobs() - j0, "out": out, "error": err})
            if fs is not None:
                fs.scan(op_id)
            # drop the op's DataFrames so the ContextCleaner frees their
            # broadcast and checkpoint blocks before the next op
            gc.collect()
        self.tracer.op = None
        for op, row in zip(ops, rows):
            if row["error"] is None and op.check is not None:
                try:
                    problems = op.check(row["out"])
                except Exception as exc:
                    traceback.print_exc(file=sys.stderr)
                    problems = [f"check raised {type(exc).__name__}: {str(exc)[:1500]}"]
                if problems:
                    row["error"] = "; ".join(str(p) for p in problems)[:2000]
            row.pop("out")
        return rows

    # -- whole run ----------------------------------------------------------

    def run(self) -> dict:
        if self.trace:
            from lp_etl_plugins_spark import inventory
            from perfbench import trace as TR

            inventory.all_queries()  # import every module before rebinding names
            self.caches = TR.CacheProbe().install()
            self.instr = TR.Instrumentation(self.tracer).install()
        self.set_up()
        if self.trace:  # count the timed rounds only
            self.tracer.reset()
            self.caches.reset()
        t_measure, steal = time.perf_counter(), M.host_steal_s()
        rows = self.rows = self.measure(self.rounds, "m")
        if steal is not None:  # a host that takes CPU time away slows every operation
            self.info["host_steal_s"] = round(M.host_steal_s() - steal, 2)
        self.info["timeline_s"] = {"launch": round(self.launch_s, 2), "warmup": round(self.warmup_s, 2),
                                   "set_up": round(t_measure - T_PROCESS, 2),
                                   "measure_and_check": round(time.perf_counter() - t_measure, 2)}
        fit_rows = None
        if self.trace and self.args.workload in W.QUERY_WORKLOADS:
            fit_rows = self.fit_pass()
        rss = M.peak_rss_mb(self.spark)
        live = None
        if self.args.workload == "index_lifecycle":
            live = M.tree_bytes(self._cycle_dir(len(self.rounds) - 1))
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        result = M.end_to_end(self.launch_s, self.warmup_s, self.setup, rows, rss)
        result["live_bytes"] = live
        if live is not None:  # per cycle: every cycle absorbs the same input
            result["input_bytes"] = sum(self.corpus.input_bytes.values())
            result["cycles"] = len(self.rounds)
        if self.trace:
            self.instr.restore()
            self.caches.restore()
            log = os.path.join(self.work, "eventlog", app_id)
            result["layers"] = M.per_layer(self, rows, fit_rows, log, result)
        return result

    def fit_pass(self) -> list[dict]:
        """Each panel query once more at ``QUERY_SF`` (a fresh copy of the
        inputs, so no session cache is warm) and then at ``FIT_SF``, back
        to back, for the per-query fixed / per-row cost fit."""
        from perfbench import engine_ops as E

        self.fit_scale = FIT_SF
        lo = shutil.copytree(self.sf_dir, f"{self.sf_dir}-fit")
        hi = self._inputs(FIT_SF, 0)
        ops = []
        for name in self.info["queries"]:
            ops += E.query_ops(self.spark, lo, [name], self.tracer)
            ops += E.query_ops(self.spark, hi, [name], self.tracer)
        rows = self.measure([ops], "f")
        for k, r in enumerate(rows):
            r["scale"] = FIT_SF if k % 2 else QUERY_SF
        self.info["fit_failed"] = sum(r["error"] is not None for r in rows)
        return rows

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit (it exits when its
        standard input closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - best effort at exit
                traceback.print_exc(file=sys.stderr)
        gateway = SparkContext._gateway
        if gateway is not None and getattr(gateway, "proc", None) is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(PACKAGE_DIR, "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, bool(args.trace))
    bench = Bench(args, work)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    report = M.report(args, bench, result, base)
    if args.trace:
        os.makedirs(os.path.join(base, "artifacts"), exist_ok=True)
        path = os.path.join(base, "artifacts", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(report["artifact"], fh, indent=1, sort_keys=True)
        report["summary"]["artifact"] = os.path.relpath(path, ROOT)
    else:
        with open(M.result_path(base, args), "w") as fh:
            json.dump({"wall_s": result["wall_s"]}, fh)
    for row in bench.rows:
        print(json.dumps({"op": row["op"], "s": round(row["s"], 4), "jobs": row["jobs"], "ok": row["error"] is None}))
    for line in report["failures"]:
        print(json.dumps(line))
    print(json.dumps(report["summary"], sort_keys=True))
    print(json.dumps(report["last"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
