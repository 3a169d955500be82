"""Workload benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One driver process submits one op at a time. A run sets up three times
(the first from process start, JVM launch included; then two in-process
re-setups on the same JVM: a new session, a fresh import of the registry
and a schema read of every table), runs one cold pass over the
workload's ops and WARMUP_PASSES unmeasured warm-up passes, then
measured warm passes until ``--seconds`` have passed (at least
MIN_MEASURED). Each op is timed from the call into the package until
its result is collected; output checks, status-store counters and cache
clean-up run outside that window, and a wrong or failed op counts in
``failed``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
public functions of the layer modules (perfbench/tracing.py), alternates
untraced and traced warm passes and prints the per-layer metrics,
including the tracing overhead. The last stdout line is one JSON object;
the per-op detail (and the spans, when traced) go to
perfbench/_work/results/.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "loan_etl_data_pipeline_spark"
SETUPS = 3
# unmeasured passes after the cold one: the JIT keeps speeding passes up
# for two more (longer on a busy host), and a median taken on that slope
# follows host load
WARMUP_PASSES = 2
MIN_MEASURED = 2

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402


def log(msg: str) -> None:
    print(f"# [{time.time() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="warm work to measure")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="0.01", choices=("0.01", "0.001"), help="fixed table scale")
    return p.parse_args()


def host_shape() -> tuple[int, int]:
    """Cores this process may use, and driver heap (MB) sized to the host."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return cores, max(1024, min(4096, mem_mb // 4))


def prepare_env(work: str) -> None:
    """Keep every file Spark and the engine write inside ``work``, and
    run the self-contained shape the correctness gate runs."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    for var in ("SPARK_GRAFT_MATERIALIZE_DIR", "SPARK_GRAFT_NO_TUNE"):
        os.environ.pop(var, None)
    os.chdir(work)


def import_package():
    import importlib

    pkg = importlib.import_module(PKG)
    if os.path.dirname(os.path.abspath(pkg.__file__)) != os.path.join(ROOT, PKG):
        raise ImportError(f"{PKG} resolved outside this checkout: {pkg.__file__}")
    return pkg


class Session:
    """Set-up and tear-down of the Spark session, registry and tables."""

    def __init__(self, sf_dir: str, cores: int, heap_mb: int) -> None:
        self.sf_dir, self.cores, self.heap_mb = sf_dir, cores, heap_mb
        self.spark = None
        self.setup_s: list[float] = []
        self.create_s: list[float] = []

    def setup(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
                del sys.modules[name]
        t0 = T_START if not self.setup_s else time.time()
        pkg = import_package()
        t1 = time.time()
        self.spark = pkg.create_session(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": f"{self.heap_mb}m"},
        )
        self.create_s.append(time.time() - t1)
        self.spark.sparkContext.setLogLevel("ERROR")
        from loan_etl_data_pipeline_spark import queries

        self.queries = queries.all_queries()
        self.oracles = queries.all_oracles()
        self.tables = pkg.TABLES
        for t in pkg.TABLES:
            _ = pkg.load_table(self.spark, self.sf_dir, t).schema
        self.setup_s.append(time.time() - t0)

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)


class Runner:
    def __init__(self, args, sess: Session, work: str) -> None:
        from loan_etl_data_pipeline_spark.plans import etl
        from perfbench.checks import Expectations
        from perfbench.jvm import Jvm
        from perfbench.tracing import Tracer

        self.args, self.sess, self.spark = args, sess, sess.spark
        self.jvm = Jvm(self.spark)
        self.tracer = Tracer()
        self.wrapped = self.tracer.install() if args.trace else 0
        names = W.QUERY_OPS[args.workload]
        self.ops = [W.Op(n, "query") for n in names]
        if args.workload == "ingest":
            self.ops = W.etl_ops(self.spark, etl, work, args.seed) + self.ops
        self.expect = Expectations(sess.sf_dir, f"sf{args.sf}", names, sess.oracles, sess.tables)
        self.records: list[dict] = []

    def run_op(self, op: W.Op, pass_no: int, phase: str, traced: bool) -> dict:
        from perfbench.checks import check_etl
        from perfbench.jvm import python_nodes

        op_id = f"p{pass_no}:{op.name}"
        rec = {"op": op.name, "kind": op.kind, "pass": pass_no, "phase": phase, "traced": traced}
        self.jvm.set_group(op_id)
        self.tracer.op, self.tracer.active = op_id, traced
        t0 = t1 = time.time()
        err = None
        try:
            if op.kind == "query":
                with self.tracer.span(op.name, "registry"):
                    df = self.sess.queries[op.name](self.spark, self.sess.sf_dir)
                t1 = time.time()
                with self.tracer.span(op.name, "exec"):
                    df._jdf.queryExecution().executedPlan()
                    t2 = time.time()
                    rows = df.collect()
                t3 = time.time()
                self.tracer.active = False
                rec.update(build_s=t1 - t0, plan_s=t2 - t1, collect_s=t3 - t2, rows=len(rows))
                rec["python_nodes"] = python_nodes(df)
                err = self.expect.check(op.name, df.columns, rows)
            else:
                insights = op.run()
                t3 = time.time()
                self.tracer.active = False
                err = check_etl(self.spark, insights, op.expected, op.out_path)
                files = [
                    os.path.join(d, f)
                    for d, _, fs in os.walk(op.out_path)
                    for f in fs
                    if f.endswith(".parquet")
                ]
                rec.update(files_out=len(files), bytes_out=sum(map(os.path.getsize, files)))
            rec["latency_s"] = t3 - t0
        except Exception:  # an op that raises is a failed op; the run goes on
            self.tracer.active = False
            err = traceback.format_exc()
        rec["error"] = err
        if err:
            log(f"FAILED {op_id}: {err}")
        self.spark.catalog.clearCache()
        rec["leaked_rdds"] = self.jvm.persistent_rdds()
        rec.update(self.jvm.op_counters(op_id, t1 if op.kind == "query" else t0))
        self.records.append(rec)
        return rec

    def run_pass(self, pass_no: int, phase: str, traced: bool = False) -> list[dict]:
        recs = [self.run_op(op, pass_no, phase, traced) for op in self.ops]
        log(f"pass {pass_no} ({phase}{', traced' if traced else ''}): {_latency(recs):.3f}s")
        return recs

    def run(self) -> None:
        """One cold pass, WARMUP_PASSES unmeasured passes, then measured
        warm passes until ``--seconds`` have passed, at least MIN_MEASURED.
        Traced runs alternate untraced and traced passes and stop after a
        traced one, so both kinds have the same count."""
        self.run_pass(0, "cold")
        for i in range(WARMUP_PASSES):
            self.run_pass(i + 1, "warmup")
        kinds = (False, True) if self.args.trace else (False,)
        t0, i = time.time(), 0
        while i < MIN_MEASURED * len(kinds) or i % len(kinds) or time.time() - t0 < self.args.seconds:
            self.run_pass(WARMUP_PASSES + i + 1, "warm", kinds[i % len(kinds)])
            i += 1


def _pass_totals(records: list[dict]) -> dict[int, list[dict]]:
    passes: dict[int, list[dict]] = {}
    for r in records:
        passes.setdefault(r["pass"], []).append(r)
    return passes


def _latency(recs: list[dict]) -> float:
    return sum(r.get("latency_s", 0.0) for r in recs)


def end_to_end(runner: Runner, sess: Session) -> dict:
    passes = _pass_totals(runner.records)
    warm = _untraced_warm(passes)
    per_op: dict[str, list[float]] = {}
    for recs in warm:
        for r in recs:
            per_op.setdefault(r["op"], []).append(r.get("latency_s", 0.0))
    return {
        "setup_s": statistics.median(sess.setup_s),
        "pass_s": statistics.median(_latency(recs) for recs in warm),
        # median over ops of each op's median: the ops differ in size, so
        # a median of the pooled latencies falls in the gap between two
        # ops and jumps with the slowest sample of one of them
        "op_p50_s": statistics.median(statistics.median(v) for v in per_op.values()),
        "measured_passes": len(warm),
        **always_measured(runner),
    }


def always_measured(runner: Runner) -> dict:
    """Measured on every run, bounded on none: each varies more from run
    to run than any bound allowed (see README.md)."""
    passes = _pass_totals(runner.records)
    lat = sorted(r["latency_s"] for recs in _untraced_warm(passes) for r in recs if "latency_s" in r)
    return {
        "cold_s": _latency(passes[0]),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else lat[0],
        "peak_rss_mb": runner.jvm.peak_rss_mb(),
    }


def _untraced_warm(passes: dict[int, list[dict]]) -> list[list[dict]]:
    return [recs for recs in passes.values() if recs[0]["phase"] == "warm" and not recs[0]["traced"]]


def per_layer(runner: Runner, sess: Session) -> dict:
    from perfbench.tracing import LAYER_MODULES, layer_totals

    passes = _pass_totals(runner.records)
    cores = sess.cores
    per_pass: dict[str, list[float]] = {}
    untraced, traced = [], []
    for p, recs in passes.items():
        if recs[0]["phase"] != "warm":
            continue
        (traced if recs[0]["traced"] else untraced).append(_latency(recs))
        if not recs[0]["traced"]:
            continue
        layers = layer_totals(runner.tracer.spans, {f"p{p}:{r['op']}": r["job_times"] for r in recs})
        q = [r for r in recs if r["kind"] == "query"]
        etl = [r for r in recs if r["kind"] == "etl"]
        collect_s = sum(r.get("collect_s", 0.0) for r in q)
        run_s = sum(r["executor_run_s"] for r in q)
        etl_lat = sum(r.get("latency_s", 0.0) for r in etl)
        bytes_in = sum(op.bytes_in for op in runner.ops if op.kind == "etl")
        rows_in = sum(op.rows_in for op in runner.ops if op.kind == "etl")
        m = {
            "registry.build_s": sum(r.get("build_s", 0.0) for r in q),
            "registry.build_jobs": sum(r["build_jobs"] for r in q),
            "registry.self_s": layers["registry"]["self_s"],
            "exec.plan_s": sum(r.get("plan_s", 0.0) for r in q),
            "exec.collect_s": collect_s,
            "exec.jobs": sum(r["exec_jobs"] for r in q),
            "exec.stages": sum(r["stages"] for r in q),
            "exec.tasks": sum(r["tasks"] for r in q),
            "exec.shuffle_read_bytes": sum(r["shuffle_read_bytes"] for r in q),
            "exec.shuffle_write_bytes": sum(r["shuffle_write_bytes"] for r in q),
            "exec.executor_run_s": run_s,
            "exec.executor_cpu_s": sum(r["executor_cpu_s"] for r in q),
            "exec.cores_busy_frac": run_s / (collect_s * cores) if collect_s else 0.0,
            "exec.python_nodes": sum(r.get("python_nodes", 0) for r in q),
            "etl.rows_per_s": rows_in / etl_lat if etl_lat else 0.0,
            "etl.bytes_out_per_byte_in": sum(r.get("bytes_out", 0) for r in etl) / bytes_in if bytes_in else 0.0,
            "etl.files_out": sum(r.get("files_out", 0) for r in etl),
            "cache.leaked_rdds": max(r["leaked_rdds"] for r in recs),
            "trace.spans": sum(t["spans"] for t in layers.values()),
        }
        for layer in LAYER_MODULES:
            m[f"{layer}.self_s"] = layers[layer]["self_s"]
            m[f"{layer}.jobs"] = layers[layer]["jobs"]
        m["graph.calls"] = layers["graph"]["calls"]
        for k, v in m.items():
            per_pass.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in per_pass.items()}
    out.update(always_measured(runner))
    out["session.create_s"] = statistics.median(sess.create_s)
    out["setup.process_start_s"] = sess.setup_s[0]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    cold = {r["op"]: r.get("latency_s", 0.0) for r in passes[0]}
    for q in W.MAINTAINERS:
        out[f"streaming.first_call_s.{q}"] = cold.get(q, 0.0)
    out["streaming.cold_s"] = sum(cold.get(q, 0.0) for q in W.MAINTAINERS)
    return out


def main() -> int:
    args = parse_args()
    cores, heap_mb = host_shape()
    sf_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"missing table data: {sf_dir}")
    work = os.path.join(HERE, "_work", f"run-{os.getpid()}")
    results = os.path.join(HERE, "_work", "results")
    os.makedirs(results, exist_ok=True)
    prepare_env(work)

    sess = Session(sf_dir, cores, heap_mb)
    try:
        for _ in range(SETUPS):
            sess.setup()
        log(f"setups: {[round(s, 3) for s in sess.setup_s]}")
        runner = Runner(args, sess, work)
        log("inputs and expected results ready")
        runner.run()
        metrics = per_layer(runner, sess) if args.trace else end_to_end(runner, sess)
        if args.trace:
            log(f"wrapped {runner.wrapped} functions, {len(runner.tracer.spans)} spans")
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)

    log("stopped")
    failed = sum(1 for r in runner.records if r["error"])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": args.sf,
        "env": {
            "cores": cores,
            "driver_heap_mb": heap_mb,
            "python": sys.version.split()[0],
            "pyspark": __import__("pyspark").__version__,
            **{
                k: os.environ.get(k)
                for k in ("SPARK_GRAFT_MATERIALIZE_DIR", "SPARK_GRAFT_NO_TUNE", "SPARK_LOCAL_DIRS", "TMPDIR")
            },
        },
        "setup_s": sess.setup_s,
        "create_s": sess.create_s,
        "ops": runner.records,
        "metrics": metrics,
    }
    with open(os.path.join(results, f"detail-{tag}.json"), "w") as f:
        json.dump(detail, f, default=str)
    if args.trace:
        with open(os.path.join(results, f"spans-{tag}.json"), "w") as f:
            json.dump(
                [dict(zip(("name", "layer", "start", "end", "parent", "op"), s)) for s in runner.tracer.spans], f
            )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(runner.records),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
