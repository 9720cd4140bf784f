"""Benchmark of the quality pipeline and the query registry.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

* ``crawl_full``   — ``checkpoint.run_checkpointed`` over the pages corpus
  into a fresh directory (8 chunks, salt 64: the ``run_job.py`` defaults);
  a traced run also times a resume of the last of 8 chunks;
* ``registry_mix`` — passes over a mix of registry leaves on small
  single-file tables, each leaf timed with ``bench.py``'s noop sink and
  ``observe`` count;
* ``all``          — both in turn in one process (the last line then
  holds every workload's metrics under ``<workload>.``).

One driver process, ``local[nproc]``, closed loop: one operation at a time,
repeated until ``--seconds`` have been measured. ``--trace 1`` also reads
the per-layer ledger from Spark's status stores after each traced
operation and runs the single-thread kernel microbench. The last line of
stdout is one JSON object; everything else goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("crawl_full", "registry_mix")
CRAWL_PAGES = 4_000
N_CHUNKS = 8          # run_job.py defaults
SALT_BUCKETS = 64
# registry leaves: text rules, the portable langid kernel in an Arrow UDF,
# embedding similarity and event statistics, over all three tables
LEAVES = ["heuristic_gate", "langid_scores", "embedding_knn", "iqr_outliers"]
PINS = os.path.join(HERE, "pins.json")
HEAP, YOUNG = "3g", "1g"   # driver JVM heap and young generation


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def descendants() -> list[int]:
    """This process and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (it exits when its stdin
    closes), then wait for every remaining child process to end."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while (left := descendants()[1:]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for pid in left:
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers it forks), read from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._pids = [os.getpid()]
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = 0
        for p in self._pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)
        return total

    def _run(self):
        tick = 0
        while not self._stop.wait(self.interval):
            if tick % 10 == 0:  # workers come and go rarely: rescan each second
                self._pids = descendants()
            tick += 1
            self.sample()

    def start(self):
        self._pids = descendants()
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()


# --- correctness ------------------------------------------------------------

def decisions_digest(spark, data_dir: str) -> dict:
    """Row count, keep count and an order-insensitive hash of a decisions
    table (url, keep, rules, scores rounded to 6 decimals, scrubbed_text)."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(data_dir)
    h = F.xxhash64(
        "url", "keep", F.array_sort(F.map_entries("rules")),
        F.array_sort(F.map_entries(
            F.transform_values("scores", lambda _, v: F.round(v, 6)))),
        "scrubbed_text")
    r = d.select(h.alias("h"), "keep").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("keep").cast("long")).alias("keep"),
        F.sum(F.col("h").bitwiseAND(0xFFFFFFFF)).alias("lo"),
        F.sum(F.shiftright("h", 32)).alias("hi")).first()
    return {"rows": r["rows"], "keep": r["keep"],
            "hash": f"{r['hi'] & (2**64 - 1):016x}{r['lo'] & (2**64 - 1):016x}"}


def leaf_digest(df) -> dict:
    """The oracle gate's value check (``tools/verify_queries``):
    order-insensitive, floats to 6 significant digits."""
    import hashlib

    from tools.verify_queries import canon

    rows = df.collect()
    h = hashlib.sha256("\n".join(canon(rows, df.columns)).encode())
    return {"rows": len(rows), "hash": h.hexdigest()[:16]}


class Pins:
    """Expected outputs in pins.json; ``--pin`` records instead of checking."""

    def __init__(self, record: bool):
        self.record = record
        with open(PINS) as f:
            self.data = json.load(f)

    def check(self, key: str, got: dict) -> bool:
        if self.record:
            self.data[key] = got
            return True
        want = self.data.get(key)
        if want != got:
            log(f"MISMATCH {key}: want {want} got {got}")
            return False
        return True

    def save(self):
        if self.record:
            with open(PINS, "w") as f:
                json.dump(self.data, f, indent=1, sort_keys=True)
                f.write("\n")


# --- workloads ----------------------------------------------------------------

class Run:
    """State of one workload run: session, scratch dirs, counters."""

    def __init__(self, spark, work: str, cache: str, seed: int, trace: bool,
                 pins: Pins, t_setup0: float):
        self.spark, self.work, self.cache = spark, work, cache
        self.seed, self.trace, self.pins = seed, trace, pins
        self.attempted = 0
        self.failed = 0
        self.op_s: list[float] = []
        self.leaf_s: dict[str, list[float]] = {}
        self.layers: list[dict] = []
        self.walls: list[dict] = []
        self.untraced_s: list[float] = []
        self.traced_s: list[float] = []
        self._t = t_setup0
        self.ledger = None
        if trace:
            from perfbench.ledger import SparkLedger
            self.ledger = SparkLedger(spark)

    def phase(self, name: str) -> None:
        """Log the time since the previous phase mark (set-up breakdown)."""
        now = time.perf_counter()
        log(f"  {name}: {now - self._t:.2f}s")
        self._t = now

    def attempt(self, fn, *a) -> object | None:
        """Run one operation; an exception counts as a failed op and the
        run continues."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            log(traceback.format_exc())
            return None

    def timed(self, k: int, fn):
        """Time ``fn`` (one operation). After the first operation, a traced
        run traces operations in the order untraced, traced, traced,
        untraced, ... (ledger read and cache poller on), and the untraced
        ones are the baseline of the tracing overhead. The first operation
        is in neither set: it runs slower than the rest, and as a baseline
        it would hide the overhead."""
        traced = self.ledger is not None and k % 4 in (2, 3)
        if not traced:
            t0 = time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t0
            if k > 0:
                self.untraced_s.append(dt)
            return res, dt
        from perfbench.ledger import CachePoller, layer_metrics
        mark = self.ledger.mark()
        with CachePoller(self.ledger) as cp:
            e0, t0 = time.time(), time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t0
        self.traced_s.append(dt)
        metrics, wall = layer_metrics(self.ledger, mark, e0, e0 + dt, cp.peak)
        self.layers.append(metrics)
        self.walls.append({k: v / dt for k, v in wall.items()})
        return res, dt


def crawl_setup(r: Run) -> dict:
    from dataquality_spark import pipeline
    from perfbench import tables

    base = tables.pages_base(r.cache, CRAWL_PAGES)
    ctx = {"layout": tables.pages_layout(base, os.path.join(r.work, "pages"),
                                         r.seed)}
    r.phase("input layout")
    pipeline.get_artifacts()
    r.phase("artifacts")
    # warm-up (JIT, Python workers, codegen caches, the writer): the
    # measured operation over a quarter of the input files
    quarter = dict(ctx, layout=os.path.join(ctx["layout"], "part-00[0-3].parquet"))
    run_checkpointed(r, quarter, os.path.join(r.work, "warm"))
    shutil.rmtree(os.path.join(r.work, "warm"))
    r.phase("warm-up")
    return ctx


def run_checkpointed(r: Run, ctx: dict, out: str, max_chunks=None) -> dict:
    from dataquality_spark import checkpoint

    return checkpoint.run_checkpointed(
        r.spark, r.spark.read.parquet(ctx["layout"]), out, n_chunks=N_CHUNKS,
        max_chunks=max_chunks, salt_buckets=SALT_BUCKETS)


def check_crawl(r: Run, summary: dict, out: str, processed: list[int]) -> None:
    """Every chunk committed, the expected ones processed by this call, and
    the decisions equal to the pin — for a resumed run too, which is the
    exact-resume guarantee."""
    ok = (summary["completed"] == list(range(N_CHUNKS))
          and summary["processed"] == processed)
    got = decisions_digest(r.spark, os.path.join(out, "data"))
    if not (r.pins.check(f"crawl_{CRAWL_PAGES}", got) and ok):
        r.failed += 1


def crawl_op(r: Run, ctx: dict, k: int) -> None:
    out = os.path.join(r.work, f"op{k}")

    def op():
        summary, dt = r.timed(k, lambda: run_checkpointed(r, ctx, out))
        check_crawl(r, summary, out, list(range(N_CHUNKS)))
        if k > 0:  # see measure()
            r.op_s.append(dt)
    try:
        r.attempt(op)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def resume_probe(r: Run, ctx: dict) -> dict:
    """Traced runs only: commit 7 of 8 chunks (untimed), then time the call
    that resumes and finishes the last one. Every input row is still read
    and hashed to find its chunk; only the last chunk's rows reach the UDF."""
    from perfbench.ledger import layer_metrics

    out = os.path.join(r.work, "resume")

    def op():
        run_checkpointed(r, ctx, out, max_chunks=N_CHUNKS - 1)
        mark = r.ledger.mark()
        e0, t0 = time.time(), time.perf_counter()
        summary = run_checkpointed(r, ctx, out)
        dt = time.perf_counter() - t0
        m, _ = layer_metrics(r.ledger, mark, e0, e0 + dt, 0)
        check_crawl(r, summary, out, [N_CHUNKS - 1])
        return {"checkpoint.resume_s": dt,
                "checkpoint.resume_rows_scanned": m["checkpoint.rows_scanned"],
                "checkpoint.resume_rows_processed": m["checkpoint.rows_processed"]}
    try:
        return r.attempt(op) or {}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def registry_setup(r: Run) -> dict:
    from dataquality_spark import queries as Q
    from dataquality_spark.models import langid
    from perfbench import tables

    sf_dir = tables.REGISTRY_DIR
    langid.get_portable_langid()
    r.phase("artifacts")
    # warm-up: every leaf once, collected and checked against its pin
    for name in LEAVES:
        def check(name=name):
            out = Q.QUERIES[name](r.spark, sf_dir)
            try:
                if not r.pins.check(f"leaf.{name}", leaf_digest(out)):
                    r.failed += 1
            finally:
                Q.release_cached(out)
        r.attempt(check)
    r.phase("warm-up")
    return {"sf_dir": sf_dir}


def registry_pass(r: Run, sf_dir: str, order: list[str]) -> dict[str, float]:
    """Each leaf once, timed like ``bench.py`` times it; → {leaf: seconds}
    for the leaves that ran."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dataquality_spark import queries as Q

    def leaf(name):
        t0 = time.perf_counter()
        out = Q.QUERIES[name](r.spark, sf_dir)
        obs = Observation()
        (out.observe(obs, F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        dt = time.perf_counter() - t0
        n = obs.get["n"]
        Q.release_cached(out)
        if n != r.pins.data[f"leaf.{name}"]["rows"]:
            log(f"MISMATCH leaf.{name}: {n} rows")
            r.failed += 1
        return dt

    times = {name: r.attempt(leaf, name) for name in order}
    return {k: v for k, v in times.items() if v is not None}


def registry_op(r: Run, ctx: dict, k: int) -> None:
    """One pass over the leaf mix, in an order drawn from the seed."""
    import random

    order = list(LEAVES)
    random.Random(r.seed * 1000 + k).shuffle(order)
    times, _ = r.timed(k, lambda: registry_pass(r, ctx["sf_dir"], order))
    if k == 0:  # see measure()
        return
    if len(times) == len(LEAVES):
        r.op_s.append(sum(times.values()))
    for name, t in times.items():
        r.leaf_s.setdefault(name, []).append(t)


def measure(r: Run, op, ctx: dict, seconds: float) -> None:
    """Closed loop: one operation after another until ``seconds`` have
    passed, and at least four (five in a traced run: see ``Run.timed``).

    The first operation is checked but its time is not reported: it runs
    10–25% slower than the next, and the operations keep getting faster
    for a while after it (JIT compilation). The floor makes the count of
    reported operations the same, three, in nearly every run, so their
    median sits at the same point of that trend; when the count varied
    between three and four, the runs that fitted a fourth read about 10%
    faster."""
    t_end = time.perf_counter() + seconds
    k = 0
    while time.perf_counter() < t_end or k < (5 if r.trace else 4):
        op(r, ctx, k)
        k += 1


# wall-time ledger layers (ledger.attribute_wall); the last three are the
# named gaps, outside ledger.layers_frac
LAYERS = ["sources", "models.udf", "jvm_compute", "operators.dedup",
          "checkpoint.write", "checkpoint.lineage", "other_stages",
          "driver.spark", "driver.python"]


def end_to_end(r: Run, setup_s: float, peak_rss: int) -> dict:
    leaf = ([statistics.median(v) for v in r.leaf_s.values()] if r.leaf_s
            else r.op_s)
    return {
        "setup_s": setup_s,
        "op_s": statistics.median(r.op_s),
        "leaf_geomean_s": math.exp(statistics.fmean(math.log(x) for x in leaf)),
        "peak_rss_mib": peak_rss / float(1 << 20),
        "ok_ops_frac": 1.0 - r.failed / max(r.attempted, 1),
    }


def per_layer(r: Run, extra: dict) -> dict:
    """Medians over the traced operations, plus the kernel microbench and
    (crawl_full) the resume probe; layers a workload does not run read 0."""
    from perfbench.ledger import median_metrics

    # the resume probe runs on crawl_full only
    out = dict.fromkeys(("checkpoint.resume_s", "checkpoint.resume_rows_scanned",
                         "checkpoint.resume_rows_processed"), 0.0)
    out.update(median_metrics(r.layers))
    out.update(extra)
    walls = [{layer: w.get(layer, 0.0) for layer in LAYERS} for w in r.walls]
    for layer, v in median_metrics(walls).items():
        out[f"ledger.{layer}_frac"] = v
    out["ledger.layers_frac"] = sum(
        out[f"ledger.{layer}_frac"] for layer in LAYERS
        if not layer.startswith(("driver.", "other_")))
    for name in LEAVES:
        out[f"queries.{name}_s"] = (statistics.median(r.leaf_s[name])
                                    if name in r.leaf_s else 0.0)
    is_registry = bool(r.leaf_s)
    out["queries.jobs"] = out["spark.jobs"] if is_registry else 0
    out["queries.tasks"] = out["spark.tasks"] if is_registry else 0
    out["trace.overhead_frac"] = (statistics.median(r.traced_s)
                                  / statistics.median(r.untraced_s) - 1.0)
    return out


def declared(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics BENCHMARK.json declares:
    a run reports exactly these, with the declared units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def run_workload(name: str, spark, work: str, cache: str, args, pins: Pins,
                 t_setup0: float) -> dict:
    r = Run(spark, work, cache, args.seed, bool(args.trace), pins, t_setup0)
    log(f"{name}: set-up")
    r.phase("session")
    if name == "registry_mix":
        ctx, op = registry_setup(r), registry_op
    else:
        ctx, op = crawl_setup(r), crawl_op
    setup_s = time.perf_counter() - t_setup0
    log(f"{name}: set-up {setup_s:.2f}s")
    rss = RssSampler()
    rss.start()
    try:
        measure(r, op, ctx, args.seconds)
    finally:
        rss.stop()
    log(f"{name}: ops {[round(x, 3) for x in r.op_s]} "
        f"attempted={r.attempted} failed={r.failed} "
        f"failed_ops_frac={r.failed / max(r.attempted, 1):.4f}")
    extra = {}
    if r.trace:
        from perfbench import kernels
        if name == "crawl_full":
            extra.update(resume_probe(r, ctx))
        us, hashes = kernels.run(kernels.sample_batches())
        for k, h in hashes.items():
            r.attempted += 1
            if not pins.check(f"kernel.{k}", h):
                r.failed += 1
        extra.update(us)
    values = (per_layer(r, extra) if r.trace
              else end_to_end(r, setup_s, rss.peak))
    return {"correct": r.failed == 0 and bool(r.op_s),
            "attempted": r.attempted, "failed": r.failed,
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in declared("per_layer" if r.trace else "end_to_end")}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record outputs into pins.json instead of checking")
    args = ap.parse_args()
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "dataquality_spark")):
        log(f"no dataquality_spark package under {ROOT}: run from a checkout")
        return 2

    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(state, "cache")
    work = os.path.join(state, f"run-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = os.cpu_count() or 1
    os.environ.update({
        # one BLAS/OpenMP thread here and (inherited) in every Python
        # worker, set before numpy loads: the kernel microbench is
        # single-thread
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # the Python workers import the library from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                      if p]),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": HEAP,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files in /tmp from the launcher JVM (the driver
        # JVM gets the same flag below)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    pins = Pins(args.pin)
    spark = None
    try:
        from tools.cpu_window import classify, probe
        p = probe(workers=cpus, seconds=0.5)
        log(f"cpu probe (metadata only): {p} -> {classify(p)}")
        # the one-time input (the pages corpus): built on the first run in
        # a checkout and cached, outside set-up time
        from perfbench import tables
        t0 = time.perf_counter()
        names = WORKLOADS if args.workload == "all" else (args.workload,)
        if "crawl_full" in names:
            tables.pages_base(cache, CRAWL_PAGES)
        log(f"inputs ready in {time.perf_counter() - t0:.2f}s "
            f"(start-up {t0 - t_start:.2f}s)")

        t_setup0 = time.perf_counter()
        from dataquality_spark.session import get_spark
        # a fixed-size heap with a fixed young generation: with G1's
        # adaptive sizing the JVM's resident set wandered by ±15% between
        # identical runs, too much for peak_rss_mib to carry a bound
        spark = get_spark(
            app_name="perfbench", master=f"local[{cpus}]",
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                            f"-XX:-UsePerfData -Xms{HEAP} -Xmn{YOUNG}"})
        results = {}
        for name in names:
            results[name] = run_workload(name, spark, work, cache, args, pins,
                                         t_setup0)
            t_setup0 = time.perf_counter()
        pins.save()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if len(results) == 1:
        result = results[args.workload]
    else:
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{n}.{k}": v for n, r in results.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
