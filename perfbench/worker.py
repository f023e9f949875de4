"""One workload in one process: session, warm-up, timed closed loop with
one client, output checks, and (traced runs only) spans, isolated layer
calls and event-log counters.

Started by ``run.py`` with the run directory that holds the generated inputs
(``inputs.json`` plus data files). Writes ``result.json`` there. Reads
``nemo_spark`` only through its public functions.
"""

from __future__ import annotations

import argparse
import csv
import glob
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

from spans import EventLog, JobCounts, Tracer

# an op's spans must cover its wall time to within this share
SPAN_TOLERANCE = 0.02
# op id of the isolated layer calls made after the timed loop; warm-up ops
# have negative ids and timed ops count up from 0
LAYER_OP = "layer"
# Peak RSS follows the heap pages the JVM touches. With the heap committed
# up front (-Xms = max) and a fixed young generation (-Xmn), that is the
# young generation plus the old generation's high-water mark, instead of
# whatever G1's timing-dependent heap and young-gen resizing reached.
_JVM_OPTS = "-Xms{heap} -Xmn512m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs) -> float:
    return float(statistics.median(xs))


def export_parts(out_dir: str) -> list[str]:
    """The part files ``write_exports`` wrote, one directory per export."""
    return glob.glob(os.path.join(out_dir, "*", "part-*"))


class Workload:
    """One workload's op, its output check and its isolated layer calls."""

    # the timed window holds whole rotations of ops, so every program weighs
    # the same; the warm-up runs at least one rotation, so every timed op is
    # warm
    rotation = 1
    warmup_ops = 1

    def __init__(self, spark, run_dir: str, inputs: dict, tracer: Tracer) -> None:
        self.spark = spark
        self.run_dir = run_dir
        self.inputs = inputs
        self.tracer = tracer
        self.engine_stats: dict = {}  # op id -> EngineStats (traced runs)
        self.output_bytes: dict = {}  # op id -> bytes the op's output step produced
        self.parse_ms: list[float] = []
        self.compile_ms: list[float] = []

    def isolated(self, i: int) -> None:
        """Isolated layer calls made after op ``i`` in traced runs."""

    # -- rule-engine op pieces shared by the rules workloads
    def run_program(self, i: int, source: str, params: dict | None, emit):
        """construct -> run -> emit(runner) -> close, each in its own span."""
        from nemo_spark.parser import RlsRunner

        sp = self.tracer.span
        with sp("parser.runner.construct"):
            r = RlsRunner(self.spark, source=source, workdir=self.run_dir, params=params)
        try:
            with sp("engine.run"):
                r.run()
                if self.tracer.enabled:
                    self.engine_stats[i] = r.engine.stats
            with sp("output"):
                out = emit(r)
        finally:
            with sp("engine.close"):
                r.close()
        return out

    def time_parser(self, source: str, params: dict | None) -> None:
        """Isolated parse_rls / compile_program call on an op's program."""
        from nemo_spark.parser import compile_program, parse_rls

        t0 = time.perf_counter()
        ast = parse_rls(source)
        t1 = time.perf_counter()
        compile_program(ast, params=params)
        t2 = time.perf_counter()
        self.parse_ms.append((t1 - t0) * 1000.0)
        self.compile_ms.append((t2 - t1) * 1000.0)

    def import_csv(self, path: str, formats: list[str]) -> dict:
        """Isolated read_dsv_typed call on a workload CSV, counted."""
        from nemo_spark.sources.dsv_typed import read_dsv_typed

        with self.tracer.span("sources.import") as s:
            rows = read_dsv_typed(self.spark, path, formats).count()
        return {"span": s, "rows": rows}


# ------------------------------------------------------------------ kg_build


def kg_frames(spark, corpus: str):
    read = spark.read.parquet
    return read(os.path.join(corpus, "transcripts")), read(os.path.join(corpus, "alias_dict"))


class KgBuild(Workload):
    # op latency still falls over the first three ops after the first
    warmup_ops = 3

    def op(self, i: int):
        from nemo_spark.kg.pipeline import materialized_triples, run_pipeline

        sp = self.tracer.span
        with sp("kg.inputs"):
            tr, ad = kg_frames(self.spark, self.inputs["kg"]["dir"])
        with sp("kg.pipeline.run"):
            res = run_pipeline(self.spark, tr, alias_dict=ad)
        with sp("kg.pipeline.materialize"):
            n = materialized_triples(res).count()
        return res, n

    def check(self, out) -> bool:
        from nemo_spark.kg.pipeline import materialized_triples

        res, n = out
        want = {tuple(t) for t in self.inputs["kg"]["expected"]["triples"]}
        got = {tuple(r) for r in materialized_triples(res).collect()}
        return n == len(want) and got == want


# --------------------------------------------------------------- rules_small


class RulesSmall(Workload):
    """Rotation of small programs; one op = one program."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.programs = self.inputs["rules_small"]["programs"]
        self.expected = self.inputs["rules_small"]["expected"]
        self.rotation = self.warmup_ops = len(self.programs)

    def program(self, i: int) -> dict:
        return self.programs[i % self.rotation]

    def op(self, i: int):
        p = self.program(i)
        outputs = sorted(self.expected[p["name"]])

        def collect(r):
            rows = {o: [list(row) for row in r.serialized(o).collect()] for o in outputs}
            if self.tracer.enabled:
                self.output_bytes[i] = sum(len(c) for rs in rows.values() for row in rs for c in row)
            return rows

        return i, self.run_program(i, p["source"], p["params"], collect)

    def isolated(self, i: int) -> None:
        p = self.program(i)
        self.time_parser(p["source"], p["params"])

    def check(self, out) -> bool:
        i, rows = out
        want = self.expected[self.program(i)["name"]]
        return {o: sorted(rs) for o, rs in rows.items()} == want


# ----------------------------------------------------------- rules_recursive


class RulesRecursive(Workload):
    def op(self, i: int):
        spec = self.inputs["rules_recursive"]
        out_dir = os.path.join(self.run_dir, "exports", f"op{i}")

        def export(r):
            r.write_exports(out_dir)
            if self.tracer.enabled:
                self.output_bytes[i] = sum(os.path.getsize(p) for p in export_parts(out_dir))
            return out_dir

        return self.run_program(i, spec["program"], None, export)

    def isolated(self, i: int) -> None:
        self.time_parser(self.inputs["rules_recursive"]["program"], None)

    def check(self, out_dir) -> bool:
        want = self.inputs["rules_recursive"]["expected"]
        try:
            for name, rows in want.items():
                got = []
                for part in glob.glob(os.path.join(out_dir, name, "part-*")):
                    with open(part, newline="") as f:
                        got += list(csv.reader(f))
                if sorted(got) != rows:
                    return False
            return True
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)


WORKLOADS = {"kg_build": KgBuild, "rules_small": RulesSmall, "rules_recursive": RulesRecursive}


# ------------------------------------------------------------- layer calls


def kg_layer_calls(w: Workload, corpus: dict, run_pipeline_too: bool) -> dict:
    """Isolated kg layer calls on a corpus: extract -> noop sink, canonical
    map -> count, closure of the located_in edges -> count, and (when the
    workload's op does not call it) one pipeline op."""
    from nemo_spark.kg.canonicalize import canonical_map_from_alias_dict
    from nemo_spark.kg.extract import extract_alias_triples_arrow
    from nemo_spark.kg.pipeline import materialized_triples, run_pipeline
    from nemo_spark.ops.graph import transitive_closure

    spark, sp = w.spark, w.tracer.span
    tr, ad = kg_frames(spark, corpus["dir"])
    out: dict = {}
    with sp("kg.extract") as s:
        extract_alias_triples_arrow(tr).write.format("noop").mode("overwrite").save()
    out["extract"] = s
    # rows the extractor returns and how many are distinct (untimed)
    counts = extract_alias_triples_arrow(tr).groupBy("subj_alias", "pred", "obj_alias").count().collect()
    out["extract_rows"] = sum(r["count"] for r in counts)
    out["extract_distinct"] = len(counts)
    with sp("kg.canonicalize") as s:
        canonical_map_from_alias_dict(ad).count()
    out["canonicalize"] = s
    edges = spark.createDataFrame(corpus["expected"]["located_in"], "src string, dst string")
    with sp("ops.graph.tc") as s:
        n = transitive_closure(edges).count()
    out["tc"] = s
    if n != corpus["expected"]["closure_pairs"]:
        raise RuntimeError(f"transitive_closure: {n} pairs, expected {corpus['expected']['closure_pairs']}")
    if run_pipeline_too:
        with sp("kg.op", op=LAYER_OP) as s:
            with sp("kg.pipeline.run"):
                res = run_pipeline(spark, tr, alias_dict=ad)
            with sp("kg.pipeline.materialize"):
                n = materialized_triples(res).count()
        out["pipeline"] = s
        if n != len(corpus["expected"]["triples"]):
            raise RuntimeError(f"run_pipeline: {n} triples, expected {len(corpus['expected']['triples'])}")
    return out


_CLOSURE_PROGRAM = """
@import loc :- csv{{resource="{csv}", format=(string, string)}} .
tc(?x, ?y) :- loc(?x, ?y) .
tc(?x, ?z) :- tc(?x, ?y), loc(?y, ?z) .
@export tc :- csv{{}} .
"""


def engine_layer_call(w: Workload, corpus: dict) -> dict:
    """kg_build's op never calls the rule engine, so its traced run closes the
    same located_in edges as a Datalog program instead: the engine's cost on
    the closure that ops.graph computes by path doubling."""
    path = os.path.join(w.run_dir, "located_in.csv")
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(corpus["expected"]["located_in"])
    source = _CLOSURE_PROGRAM.format(csv="located_in.csv")
    out_dir = os.path.join(w.run_dir, "exports", "closure")

    def export(r):
        r.write_exports(out_dir)
        parts = export_parts(out_dir)
        w.output_bytes[LAYER_OP] = sum(os.path.getsize(p) for p in parts)
        rows = 0
        for p in parts:
            with open(p) as f:
                rows += sum(1 for _ in f)
        return rows

    with w.tracer.span("engine.op", op=LAYER_OP):
        n = w.run_program(LAYER_OP, source, None, export)
    w.time_parser(source, None)
    if n != corpus["expected"]["closure_pairs"]:
        raise RuntimeError(f"closure program: {n} rows, expected {corpus['expected']['closure_pairs']}")
    return {"import": w.import_csv(path, ["string", "string"])}


# ------------------------------------------------------------------ metrics


def layer_metrics(w: Workload, tracer: Tracer, log: EventLog, n_ops: int, layer: dict) -> dict:
    """Per-layer metrics from the spans, EngineStats and the event log.

    Values over ops are medians across the timed ops of this run."""

    def spans(name, op_ids=None):
        return [s for s in tracer.spans if s.name == name and (op_ids is None or s.op in op_ids)]

    def c(s) -> JobCounts:
        return log.counts(s.start, s.end)

    m: dict = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    timed = set(range(n_ops))
    # engine and output: from the op where the op calls them, otherwise
    # from kg_build's closure program
    eng_ops = timed if w.engine_stats.keys() & timed else {LAYER_OP}
    run_spans = spans("engine.run", eng_ops)
    out_spans = spans("output", eng_ops)
    put("engine.run_s", median(s.seconds for s in run_spans), "s")
    for key in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes"):
        put(f"engine.{key}", median(getattr(c(s), key) for s in run_spans), "bytes" if "bytes" in key else "count")
    rounds, round_s, per_round, derived, local = [], [], [], [], []
    for s in run_spans:
        st = w.engine_stats[s.op]
        walls: dict = {}
        for r in st.per_rule:
            walls[(r.stratum, r.round)] = walls.get((r.stratum, r.round), 0.0) + r.wall_sec
        strata = {r.stratum for r in st.per_rule}
        rounds.append(st.rounds)
        round_s.append(median(walls.values()) if walls else 0.0)
        per_round.append(c(s).jobs / max(len(walls), 1))
        derived.append(st.derived_total)
        local.append(len({r.stratum for r in st.per_rule if r.rule == "local_fixpoint"}) / max(len(strata), 1))
    put("engine.rounds", median(rounds), "count")
    put("engine.round_s_p50", median(round_s), "s")
    put("engine.jobs_per_round", median(per_round), "count")
    put("engine.derived_rows", median(derived), "count")
    put("engine.local_strata_share", median(local), "share")
    put("output.s", median(s.seconds for s in out_spans), "s")
    put("output.jobs", median(c(s).jobs for s in out_spans), "count")
    put("output.bytes", median(w.output_bytes[s.op] for s in out_spans), "bytes")
    put("parser.parse_ms", median(w.parse_ms), "ms")
    put("parser.compile_ms", median(w.compile_ms), "ms")
    imp = layer["import"]
    put("sources.import_s", imp["span"].seconds, "s")
    put("sources.rows", imp["rows"], "count")
    put("sources.jobs", c(imp["span"]).jobs, "count")

    kg = layer["kg"]
    kg_ops = timed if spans("kg.pipeline.run", timed) else {LAYER_OP}
    runs, mats = spans("kg.pipeline.run", kg_ops), spans("kg.pipeline.materialize", kg_ops)
    put("kg.pipeline.run_s", median(s.seconds for s in runs), "s")
    put("kg.pipeline.materialize_s", median(s.seconds for s in mats), "s")
    both = [(c(a), c(b)) for a, b in zip(runs, mats)]
    put("kg.pipeline.jobs", median(a.jobs + b.jobs for a, b in both), "count")
    put("kg.pipeline.shuffle_write_bytes", median(a.shuffle_write_bytes + b.shuffle_write_bytes for a, b in both), "bytes")
    ex = c(kg["extract"])
    put("kg.extract.s", kg["extract"].seconds, "s")
    put("kg.extract.tasks", ex.tasks, "count")
    put("kg.extract.rows_out", kg["extract_rows"], "count")
    put("kg.extract.distinct_ratio", kg["extract_distinct"] / max(kg["extract_rows"], 1), "share")
    if log.has_python_metrics:
        put("kg.extract.python_bytes_sent", ex.python_bytes_sent, "bytes")
    put("kg.canonicalize.s", kg["canonicalize"].seconds, "s")
    put("kg.canonicalize.jobs", c(kg["canonicalize"]).jobs, "count")
    put("ops.graph.tc_s", kg["tc"].seconds, "s")
    put("ops.graph.jobs", c(kg["tc"]).jobs, "count")
    return m


# --------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()
    run_dir = args.run_dir
    with open(os.path.join(run_dir, "inputs.json")) as f:
        inputs = json.load(f)
    steal0 = steal_ticks()

    from nemo_spark.session import get_spark

    tracer = Tracer(bool(args.trace))
    cores = len(os.sched_getaffinity(0))
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": _JVM_OPTS.format(heap=os.environ["SPARK_DRIVER_MEMORY"], tmp=os.environ["TMPDIR"]),
        "spark.eventLog.enabled": "true" if args.trace else "false",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }
    t0 = time.time()
    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    session_s = time.time() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    w = WORKLOADS[args.workload](spark, run_dir, inputs, tracer)
    attempted = failed = 0
    lat: list[float] = []  # timed op latencies, in op order

    def attempt(i: int, span_name: str) -> float:
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            with tracer.span(span_name, op=i):
                out = w.op(i)
            dt = time.perf_counter() - t
            ok = w.check(out)
            if tracer.enabled and i >= 0:
                w.isolated(i)
        except Exception:
            traceback.print_exc()
            dt, ok = time.perf_counter() - t, False
        if not ok:
            failed += 1
            print(f"op {i} failed its check", file=sys.stderr)
        return dt

    with tracer.span("session.warmup"):
        t = time.perf_counter()
        for i in range(-w.warmup_ops, 0):
            attempt(i, "op.warmup")
        warm = time.perf_counter() - t
    setup_s = time.time() - args.spawned_at
    # the window ends on the rotation boundary nearest to --seconds, so a
    # run measures --seconds on average whatever a rotation takes
    loop_start = rot_start = time.perf_counter()
    i = 0
    while True:
        lat.append(attempt(i, "op"))
        i += 1
        if i % w.rotation == 0:
            now = time.perf_counter()
            if now - loop_start + (now - rot_start) / 2 >= args.seconds:
                break
            rot_start = now

    layer: dict = {}
    if args.trace:
        try:
            kg = inputs["kg"]
            layer["kg"] = kg_layer_calls(w, kg, run_pipeline_too=args.workload != "kg_build")
            if args.workload == "kg_build":
                layer.update(engine_layer_call(w, kg))
            else:
                csv_path = os.path.join(run_dir, inputs[args.workload]["csv"])
                layer["import"] = w.import_csv(csv_path, ["int", "int"])
        except Exception:
            traceback.print_exc()
            attempted += 1
            failed += 1
    py_rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    jvm_rss = vm_hwm_mb(jvm_pid)
    heap_mb = retained_heap_mb(spark) if args.trace else None
    t = time.perf_counter()
    stop_spark(spark)
    stop_s = time.perf_counter() - t
    steal = steal_ticks() - steal0

    result = {
        "attempted": attempted,
        "failed": failed,
        "op_s": lat,
        "setup_s": setup_s,
        "session_start_s": session_s,
        "warmup_s": warm,
        "stop_s": stop_s,
        "py_peak_rss_mb": py_rss,
        "jvm_peak_rss_mb": jvm_rss,
        "steal_ticks": steal,
        "cores": cores,
    }
    if args.trace:
        tracer.dump(os.path.join(run_dir, "spans.json"))
    if args.trace and not failed:
        log = EventLog(log_dir)
        gaps = []
        for sp in tracer.spans:
            if sp.name == "op":
                gaps.append(tracer.self_time(sp) / sp.seconds)
        m = layer_metrics(w, tracer, log, len(lat), layer)
        m["session.start_s"] = {"value": session_s, "unit": "s"}
        m["session.warmup_s"] = {"value": warm, "unit": "s"}
        m["session.jvm_heap_retained_mb"] = {"value": heap_mb, "unit": "MB"}
        m["trace.op_s_p50"] = {"value": median(lat), "unit": "s"}
        m["trace.span_gap_max"] = {"value": max(gaps), "unit": "share"}
        m["host.steal_ticks"] = {"value": steal, "unit": "count"}
        result["layers"] = m
        result["python_metrics_in_log"] = log.has_python_metrics
        result["attempted"] += 1  # the span reconciliation is one more check
        if max(gaps) > SPAN_TOLERANCE:
            print(f"spans cover too little of an op: max gap {max(gaps):.4f}", file=sys.stderr)
            result["failed"] += 1
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(result, f)
    return 0


def retained_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: the state a run left behind.

    The heap is committed up front (-Xms), so peak RSS does not show heap
    growth; this does."""
    jvm = spark._jvm.java.lang
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM itself, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
