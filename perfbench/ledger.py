"""Per-layer ledger read from Spark's own status stores after each operation.

Nothing here runs inside the library: the benchmark takes a watermark
before an operation, runs it, and afterwards reads what Spark recorded for
the SQL executions, jobs and stages that the operation started. Both
stores are populated by listeners that run whether or not the UI is
enabled (``spark.ui.enabled=false`` in ``session.get_spark``). Those
listeners run on Spark's asynchronous listener bus, so every watermark and
every read first waits for the bus to drain (outside the timed region):
otherwise an operation's last stage could still read ACTIVE, its last
execution could lack an end time, and late events could land after the
next operation's watermark.

* ``spark._jsparkSession.sharedState().statusStore()`` — SQL executions,
  their final (post-AQE) plan graphs and the formatted SQL metrics of
  every plan node;
* ``SparkContext.statusStore()`` (the ``AppStatusStore``) — jobs, stages,
  per-stage task time, GC time and task-time quantiles.

Plan nodes map to layers by operator:

    Scan parquet                                -> sources
    ArrowEvalPython (any Python runner)         -> models.udf
    Exchange / Sort / aggregate on content_hash -> operators.dedup
    BroadcastExchange                           -> pipeline
    codegen stage fed by the score+scrub UDF    -> rules.heuristics
    the decisions write and what follows        -> checkpoint

ArrowEvalPython's "time to initialize Python workers" is never read: with
worker reuse, ``pyspark/worker.py`` stamps its boot time before it blocks
on the next task's first read, so a reused worker's idle time between
tasks is counted as initialisation.
"""

from __future__ import annotations

import re
import statistics
import threading

_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_TIME_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
              "ns": 1e-9}
_SIZE_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
              "TiB": 1 << 40}
_MIB = float(1 << 20)


def parse_metric(text: str | None) -> tuple[float, int | None]:
    """A formatted SQL metric -> (total in s / bytes / count, stage id or
    None). Multi-task metrics read ``total (min, med, max (stageId:
    taskId))\\n<total> (<min>, <med>, <max> (stage S.A: task T))``."""
    if not text:
        return 0.0, None
    body = text.split("\n")[-1]
    m = _NUM.search(body)
    if not m:
        return 0.0, None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    value *= _TIME_UNIT.get(unit, _SIZE_UNIT.get(unit, 1))
    st = _STAGE.search(body)
    return value, (int(st.group(1)) if st else None)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Node:
    """One operator of an execution's final plan graph, with its parsed
    metrics, the stages its metrics name, its codegen cluster and the id
    of the node that consumes its output."""
    __slots__ = ("id", "name", "desc", "metrics", "stages", "cluster",
                 "consumer")

    def __init__(self, id, name, desc, metrics, stages, cluster, consumer):
        self.id, self.name, self.desc, self.metrics = id, name, desc, metrics
        self.stages, self.cluster, self.consumer = stages, cluster, consumer

    def m(self, key: str) -> float:
        return self.metrics.get(key, 0.0)


class SparkLedger:
    """Watermarks and reads of both status stores for one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        jvm = spark.sparkContext._jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()
        q = spark.sparkContext._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._med_max = q

    def drain(self, timeout_ms: int = 60_000) -> None:
        """Wait until the listener bus has delivered every posted event."""
        self.bus.waitUntilEmpty(timeout_ms)

    # --- watermarks --------------------------------------------------------
    def mark(self) -> dict:
        self.drain()
        return {"exec": self._max_exec_id(),
                "stages": {(s.stageId(), s.attemptId()) for s in self._stages()},
                "jobs": self.app.jobsList(None).size()}

    def _max_exec_id(self) -> int:
        ids = [e.executionId() for e in _seq(self.sql.executionsList())]
        return max(ids, default=-1)

    def _stages(self) -> list:
        return _seq(self.app.stageList(None, False, False, self._no_quantiles,
                                       self._empty))

    # --- reads -------------------------------------------------------------
    def executions_since(self, mark: dict) -> list[dict]:
        out = []
        for e in _seq(self.sql.executionsList()):
            eid = e.executionId()
            if eid <= mark["exec"]:
                continue
            end = e.completionTime()
            out.append({
                "id": eid,
                "start": e.submissionTime() / 1000.0,
                "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
                "nodes": self._nodes(eid),
            })
        return sorted(out, key=lambda x: x["id"])

    def _nodes(self, eid: int) -> list[Node]:
        values = self.sql.executionMetrics(eid)
        graph = self.sql.planGraph(eid)
        graph_nodes = _seq(graph.allNodes())
        cluster_of = {}
        for n in graph_nodes:
            if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
                for child in _seq(n.nodes()):
                    cluster_of[child.id()] = n.id()
        consumer = {e.fromId(): e.toId() for e in _seq(graph.edges())}
        nodes, seen = [], set()
        for n in graph_nodes:
            accs = [pm.accumulatorId() for pm in _seq(n.metrics())]
            # a cached plan is drawn under every scan of the cache, sharing
            # one set of accumulators: count it once
            if accs and seen.issuperset(accs):
                continue
            seen.update(accs)
            metrics, stages = {}, set()
            for pm in _seq(n.metrics()):
                v = values.get(pm.accumulatorId())
                value, stage = parse_metric(v.get() if v.isDefined() else None)
                metrics[pm.name()] = metrics.get(pm.name(), 0.0) + value
                if stage is not None:
                    stages.add(stage)
            nodes.append(Node(n.id(), n.name(), n.desc(), metrics, stages,
                              cluster_of.get(n.id()), consumer.get(n.id())))
        # a codegen stage's members ran in the stages its duration names
        by_id = {n.id: n for n in nodes}
        for n in nodes:
            if n.cluster in by_id:
                n.stages |= by_id[n.cluster].stages
        return nodes

    def stages_since(self, mark: dict) -> list[dict]:
        out = []
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in mark["stages"]:
                continue
            if str(s.status()) != "COMPLETE":
                continue
            sub, comp = s.submissionTime(), s.completionTime()
            out.append({
                "id": s.stageId(), "attempt": s.attemptId(),
                "scopes": self._scopes(s.stageId()),
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "gc_s": s.jvmGcTime() / 1000.0,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000.0 if comp.isDefined() else None,
            })
        return out

    def _scopes(self, stage: int) -> set[str]:
        """Operator names in the stage's RDD operation graph (the DAG the
        UI draws): "Scan parquet", "ArrowEvalPython", "Exchange", ..."""
        names, todo = set(), [self.app.operationGraphForStage(stage).rootCluster()]
        while todo:
            c = todo.pop()
            names.add(re.sub(r" \(\d+\)$", "", c.name()).strip())
            todo.extend(_seq(c.childClusters()))
        return names

    def task_skew(self, stage: int, attempt: int = 0) -> float:
        """max / median task run time of one stage (1.0 for one task)."""
        summary = self.app.taskSummary(stage, attempt, self._med_max)
        if not summary.isDefined():
            return 1.0
        run = summary.get().executorRunTime()
        med, mx = float(run.apply(0)), float(run.apply(1))
        return mx / med if med > 0 else 1.0

    def jobs_since(self, mark: dict) -> int:
        return self.app.jobsList(None).size() - mark["jobs"]

    def cached_bytes(self) -> int:
        """Bytes held by persisted RDDs / cached frames right now."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos)


class CachePoller:
    """Peak of ``SparkLedger.cached_bytes`` while an operation runs: the
    pipeline unpersists its cache before returning, so the size can only
    be seen during the call."""

    def __init__(self, ledger: SparkLedger, interval: float = 0.2):
        self.ledger, self.interval = ledger, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, self.ledger.cached_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.ledger.cached_bytes())


def _is_python_runner(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _is_scan(name: str) -> bool:
    return name.startswith("Scan ") and "InMemory" not in name


def _is_write(name: str) -> bool:
    return name.startswith("Execute InsertIntoHadoopFsRelationCommand")


def layer_metrics(ledger: SparkLedger, mark: dict, t0: float, t1: float,
                  cache_peak: int) -> tuple[dict[str, float], dict[str, float]]:
    """Per-layer numbers for one operation that ran in [t0, t1] (epoch s)
    after ``mark`` was taken → (metrics, wall-time attribution)."""
    ledger.drain()
    execs = ledger.executions_since(mark)
    stages = ledger.stages_since(mark)
    nodes = [n for e in execs for n in e["nodes"]]
    out: dict[str, float] = {}

    scans = [n for n in nodes if _is_scan(n.name)]
    out["sources.scan_s"] = sum(n.m("scan time") for n in scans)
    out["sources.read_mib"] = sum(n.m("size of files read") for n in scans) / _MIB
    out["sources.rows"] = sum(n.m("number of output rows") for n in scans)

    py = [n for n in nodes if _is_python_runner(n.name)]
    out["models.udf.python_run_s"] = sum(n.m("time to run Python workers")
                                         for n in py)
    out["models.udf.arrow_sent_mib"] = sum(
        n.m("data sent to Python workers") for n in py) / _MIB
    out["models.udf.arrow_returned_mib"] = sum(
        n.m("data returned from Python workers") for n in py) / _MIB
    out["models.udf.rows"] = sum(n.m("number of output rows") for n in py)

    # the rules projection is the codegen stage that consumes the fused
    # score+scrub UDF's output (node ids are per execution)
    codegen = 0.0
    for e in execs:
        by_id = {n.id: n for n in e["nodes"]}
        for n in e["nodes"]:
            if _is_python_runner(n.name) and "score_scrub(" in n.desc:
                proj = by_id.get(n.consumer)
                cluster = by_id.get(proj.cluster) if proj else None
                codegen += cluster.m("duration") if cluster else 0.0
    out["rules.heuristics.codegen_s"] = codegen

    dedup = [n for n in nodes if "content_hash" in n.desc]
    exch = [n for n in dedup if n.name == "Exchange"]
    out["operators.dedup.shuffle_write_mib"] = sum(
        n.m("shuffle bytes written") for n in exch) / _MIB
    out["operators.dedup.shuffle_records"] = sum(
        n.m("shuffle records written") for n in exch)
    out["operators.dedup.spill_mib"] = sum(n.m("spill size") for n in dedup) / _MIB
    # the salted aggregate's map side: the stage that writes the exchange
    # keyed on (content_hash, _salt)
    salted = {st for n in exch if "_salt" in n.desc for st in n.stages}
    out["operators.dedup.task_skew"] = max(
        (ledger.task_skew(st) for st in salted), default=1.0)

    bcast = [n for n in nodes if n.name == "BroadcastExchange"]
    out["pipeline.broadcast_build_s"] = sum(
        n.m("time to collect") + n.m("time to build") + n.m("time to broadcast")
        for n in bcast)
    out["pipeline.broadcast_mib"] = sum(n.m("data size") for n in bcast) / _MIB
    out["pipeline.cache_mib"] = cache_peak / _MIB

    write = next((e for e in execs if any(_is_write(n.name) for n in e["nodes"])),
                 None)
    if write is not None and write["end"] is not None:
        wn = write["nodes"]
        out["checkpoint.rows_scanned"] = sum(
            n.m("number of output rows") for n in wn if _is_scan(n.name))
        out["checkpoint.rows_processed"] = sum(
            n.m("number of output rows") for n in wn if _is_python_runner(n.name))
        w_stages = [s for s in stages if "WriteFiles" in s["scopes"]]
        out["checkpoint.write_s"] = (
            write["end"] - min(s["start"] for s in w_stages) if w_stages else 0.0)
        # lineage scans of the written decisions + the state-file commit
        out["checkpoint.lineage_s"] = max(0.0, t1 - write["end"])
    else:
        for k in ("rows_scanned", "rows_processed", "write_s", "lineage_s"):
            out[f"checkpoint.{k}"] = 0.0

    out["spark.jobs"] = ledger.jobs_since(mark)
    out["spark.stages"] = len(stages)
    out["spark.tasks"] = sum(s["tasks"] for s in stages)
    out["spark.executor_run_s"] = sum(s["run_s"] for s in stages)
    out["spark.gc_s"] = sum(s["gc_s"] for s in stages)
    return out, attribute_wall(execs, stages, nodes, write, t0, t1)


def _stage_layers(stage: dict, nodes: list[Node], write: dict | None
                  ) -> dict[str, float]:
    """Split one stage among layers → {layer: share}, shares summing to 1.

    Operators are placed in a stage by the stage ids their metrics name;
    a single-task stage names none, and is placed by the operator scopes
    of its RDD graph instead, where a stage reading a cached frame also
    lists the operators that built the cache.

    The stage that runs the Python runner is the scan → UDF → rules stage:
    its time splits by the scan's and the runner's task time in that stage
    over the stage's task time; the rest is JVM work in that stage — the
    rules projection, chunk routing, the JVM side of the Arrow crossing
    and the cache build — and goes to ``jvm_compute``."""
    scopes = stage["scopes"]
    if "WriteFiles" in scopes:
        return {"checkpoint.write": 1.0}
    if write is not None and write["end"] is not None \
            and stage["start"] >= write["end"]:
        return {"checkpoint.lineage": 1.0}
    here = [n for n in nodes if stage["id"] in n.stages]
    runs_python = (any(_is_python_runner(n.name) for n in here) if here else
                   any(_is_python_runner(s) for s in scopes)
                   and "InMemoryTableScan" not in scopes)
    if runs_python:
        run = max(stage["run_s"], 1e-9)
        scan = min(1.0, sum(n.m("scan time") for n in here if _is_scan(n.name)) / run)
        udf = min(1.0 - scan, sum(n.m("time to run Python workers")
                                  for n in here if _is_python_runner(n.name)) / run)
        return {"sources": scan, "models.udf": udf,
                "jvm_compute": 1.0 - scan - udf}
    dedup = [n for n in nodes if "content_hash" in n.desc]
    if any(stage["id"] in n.stages for n in dedup) or (
            dedup and not here and {"Exchange", "AQEShuffleRead"} & scopes):
        return {"operators.dedup": 1.0}
    return {"other_stages": 1.0}


def attribute_wall(execs: list[dict], stages: list[dict], nodes: list[Node],
                   write: dict | None, t0: float, t1: float) -> dict[str, float]:
    """Split the operation's wall time [t0, t1] among layers (seconds).

    Sweeps the operation's timeline: a moment when stages run is shared
    equally by the running stages, each split by ``_stage_layers``; a
    moment inside a SQL execution with no stage running is driver-side
    planning, scheduling, broadcast and commit work (``driver.spark``);
    any other moment is Python on the driver between Spark calls
    (``driver.python``)."""
    timed = [s for s in stages if s["start"] is not None and s["end"] is not None]
    shares = {id(s): _stage_layers(s, nodes, write) for s in timed}
    spans = [(e["start"], e["end"] if e["end"] is not None else t1) for e in execs]
    cuts = sorted({t0, t1, *(x for s in timed for x in (s["start"], s["end"])),
                   *(x for sp in spans for x in sp)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        a, b = max(a, t0), min(b, t1)
        if b <= a:
            continue
        mid = (a + b) / 2
        running = [s for s in timed if s["start"] <= mid < s["end"]]
        if running:
            for s in running:
                for layer, share in shares[id(s)].items():
                    out[layer] = out.get(layer, 0.0) + (b - a) * share / len(running)
        elif any(x <= mid < y for x, y in spans):
            out["driver.spark"] = out.get("driver.spark", 0.0) + (b - a)
        else:
            out["driver.python"] = out.get("driver.python", 0.0) + (b - a)
    return out


def median_metrics(samples: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}
