"""Repository benchmark: seeded, closed-loop, single-client workloads.

    python3 perfbench/run.py --workload fhir_ingest --seed 1 --seconds 10 --trace 0

Runs from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics when ``--trace 0``, the per-layer metrics when
``--trace 1`` (see perfbench/README.md for what each one means).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

import pandas as pd
import pyarrow as pa

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".bench_work"
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from accounting import SPARK_KEYS, SparkAccount  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "calls_per_s": "1/s",
    "peak_rss_mb": "MB",
}


# --------------------------------------------------------------------------
# host fit, process memory
# --------------------------------------------------------------------------

def host_context() -> dict:
    with open("/proc/meminfo") as f:
        ram_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": ram_kb // 1024,
        "loadavg_1m": os.getloadavg()[0],
    }


def cpu_times() -> tuple[int, int]:
    """(stolen, total) CPU time of all CPUs since boot, in clock ticks.
    Stolen time is time a virtual CPU waited for the hypervisor."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def driver_mem_mb(ctx: dict) -> int:
    """Driver heap: 1/8 of physical RAM, at least 1 GiB."""
    return max(1024, ctx["ram_mb"] // 8)


def isolate(ctx: dict, run_dir: Path) -> None:
    """Start from an empty run directory, point every scratch path into it
    and fit the JVM to the host, before the JVM starts."""
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb(ctx)}m"


def start_session(ctx: dict, run_dir: Path):
    from interop_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{ctx['nproc']}]",
        shuffle_partitions=ctx["nproc"],
        extra_conf={
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # a fixed, pre-touched heap keeps the JVM's resident size from
            # depending on when G1 grew the heap or first used a region;
            # heap pressure shows as spark.gc_s
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{driver_mem_mb(ctx)}m"
                " -XX:+AlwaysPreTouch"
            ),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_pss_kb(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants. PSS
    splits pages shared after a fork among the sharers, so Python workers
    forked from their daemon are not counted twice, as summed RSS would.

    A child of the JVM that still runs the JVM's executable is a helper
    between spawn and exec (Hadoop's shell calls, through jspawnhelper).
    It shares the JVM's address space, so it is skipped; counted, it read
    as a second JVM."""
    total, stack = 0, [(pid, "")]
    while stack:
        p, parent_exe = stack.pop()
        try:
            exe = os.readlink(f"/proc/{p}/exe")
            if exe == parent_exe and os.path.basename(exe) == "java":
                continue
            with open(f"/proc/{p}/smaps_rollup") as f:
                pss = next((line for line in f if line.startswith("Pss:")), None)
            total += int(pss.split()[1]) if pss else 0
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    stack.extend((int(c), exe) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total


class PeakRss:
    """Samples the memory of this process and all its descendants (the
    driver JVM and the Python workers) until stopped."""

    def __init__(self, period_s: float = 0.5):
        self.peak_kb = 0
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(os.getpid()))
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def warm_up(spark) -> None:
    """Start the JVM's SQL path and the Python workers once, so their
    one-time start sits in set-up rather than on the first call."""
    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1.0

    df = spark.range(0, 100_000, 1, spark.sparkContext.defaultParallelism)
    df.groupBy((F.col("id") % 7).alias("k")).agg(F.sum(plus_one(F.col("id").cast("double")))).collect()


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Call(NamedTuple):
    """One timed call into the engine: ``construct`` builds (and may run
    eager jobs), ``execute`` runs what it built to its sink."""

    name: str
    layer: str | None
    construct: Callable
    execute: Callable | None = None


class FhirIngest:
    """The notebook's ingest and reverse path: on-disk bundles →
    ``entry()`` → ``bulk_table_write`` of every resource column → the
    landed Patient rows back out through ``Bundle.write_fhir_ndjson``."""

    name = "fhir_ingest"
    BUNDLES = 64
    DB = "perfbench_ingest"

    def __init__(self, spark, sf_dir: Path, work: Path):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.corpus = work / "bundles"
        self.export = work / "export"
        self.entry_df = None
        self.fixture_s = 0.0

    def prepare(self) -> None:
        import pyarrow.parquet as pq
        from inputs import count_entries, json_bytes, write_bundle_corpus

        from interop_spark.fhir.schema import FhirSchemaModel

        # the BUNDLES lowest seeded customer keys: which customers varies
        # with the seed, the corpus size does not
        keys = pq.read_table(self.sf_dir / "customer.parquet", columns=["c_custkey"])
        max_custkey = sorted(keys.column(0).to_pylist())[self.BUNDLES - 1] + 1
        t0 = time.perf_counter()
        self.bundles = write_bundle_corpus(
            self.spark, str(self.sf_dir), str(self.corpus), max_custkey
        )
        self.fixture_s = time.perf_counter() - t0
        self.entries = count_entries(str(self.corpus))
        self.json_bytes = json_bytes(str(self.corpus))
        catalog = FhirSchemaModel()
        known = set(catalog.resource_types())
        self.types = sorted(t for t in self.entries if t in known)
        self.schemas = FhirSchemaModel(
            fhir_resource_map={t: catalog.schema(t) for t in self.types}
        )

    def _entry(self):
        from interop_spark.fhir import read_from_directory

        self.entry_df = read_from_directory(
            "file://" + str(self.corpus), spark=self.spark, glob_filter="*.json"
        ).entry(schemas=self.schemas)

    def _write(self, _):
        from interop_spark.fhir.write import bulk_table_write

        bulk_table_write(self.entry_df, self.DB, write_mode="overwrite")

    def _export_src(self):
        from pyspark.sql import functions as F

        from interop_spark.fhir import Bundle, Mapping, MappingManager

        src = (
            self.spark.table(f"`{self.DB}`.`Patient`")
            .select(F.explode("Patient").alias("p"))
            .select(
                F.col("p.id").alias("PAT_ID"),
                F.col("p.gender").alias("GENDER"),
                F.col("p.birthDate").alias("BIRTH_DATE"),
            )
        )
        maps = [
            Mapping("PAT_ID", "Patient.id"),
            Mapping("GENDER", "Patient.gender"),
            Mapping("BIRTH_DATE", "Patient.birthDate"),
        ]
        return Bundle(MappingManager(maps, src.schema)), src

    def _export(self, built):
        bundle, src = built
        bundle.write_fhir_ndjson(src, "file://" + str(self.export))

    def calls(self) -> list[Call]:
        return [
            Call("entry", "fhir.reader", self._entry),
            Call("bulk_table_write", "fhir.write", lambda: None, self._write),
            Call("write_fhir_ndjson", "fhir.writer", self._export_src, self._export),
        ]

    def verify(self) -> list[str]:
        """Landed entries per type, read from the table files with pyarrow,
        equal the JSON entry counts; exported NDJSON lines equal the landed
        Patient entries."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        bad = []
        db = self.work / "warehouse" / f"{self.DB}.db"
        for t in self.types:
            col = pq.read_table(db / t.lower(), columns=[t]).column(t)
            landed = pc.sum(pc.list_value_length(col)).as_py() or 0
            if landed != self.entries[t]:
                bad.append(f"{t}: landed {landed} != json {self.entries[t]}")
        lines = 0
        for p in (self.export / "Patient").glob("part-*"):
            with open(p) as f:
                lines += sum(1 for line in f if line.strip())
        if lines != self.entries.get("Patient"):
            bad.append(f"export lines {lines} != Patient {self.entries.get('Patient')}")
        return bad

    def files_written(self) -> int:
        db = self.work / "warehouse" / f"{self.DB}.db"
        return sum(1 for p in db.rglob("*.parquet"))


class CorpusCuration:
    """Training-data operator rows over the seeded document, embedding
    and customer tables; each row's result is collected to the driver."""

    name = "corpus_curation"
    # registry row -> operator module it exercises (None: composite pipeline)
    ROWS = {
        "corpus_clean": None,
        "pretrain_pipeline": None,
        "minhash_lsh_neardup": "dedup",
        "simhash_neardup_pairs": "dedup",
        "paragraph_dedup": "dedup",
        "substring_dup_runs": "dedup",
        "bpe_train_encode": "text",
        "ivfpq_search": "pq",
        "mmr_rerank": "mmr",
        "embedding_neardup": "similarity",
        "theta_sketch_setops": "theta",
        "quantile_sketch_estimate": "sketch",
        "pca_top_component": "linalg",
        "domain_reweight_converge": None,
        "linkage_entities": "linkage",
        "bm25_topk": "retrieval",
        "int4_roundtrip": "quantize",
    }

    def __init__(self, spark, sf_dir: Path, work: Path):
        import __spark_entry__ as entry

        self.spark, self.sf_dir = spark, str(sf_dir)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.results: dict = {}
        self.fixture_s = 0.0

    def prepare(self) -> None:
        pass

    def calls(self) -> list[Call]:
        def collect(row):
            return lambda df: self.results.setdefault(row, df.toPandas())

        return [
            Call(row, mod, lambda r=row: self.queries[r](self.spark, self.sf_dir), collect(row))
            for row, mod in self.ROWS.items()
        ]

    def _oracle(self, row: str):
        import duckdb

        con = duckdb.connect()
        try:
            for p in sorted(Path(self.sf_dir).glob("*.parquet")):
                con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
            return con.execute(self.oracles[row]).df()
        finally:
            con.close()

    def verify(self) -> list[str]:
        """Each row's first collected result equals its DuckDB oracle over
        the same seeded tables (order-insensitive, columns by name)."""
        import duckdb

        bad = []
        for row in self.ROWS:
            try:
                expected = self._oracle(row)
            except duckdb.Error as e:
                bad.append(f"{row}: oracle failed: {e}")
                continue
            if row not in self.results:  # its call raised: counted there
                continue
            why = compare(self.results[row], expected)
            if why:
                bad.append(f"{row}: {why}")
        return bad

    def files_written(self) -> int:
        return 0


WORKLOADS = {w.name: w for w in (FhirIngest, CorpusCuration)}


def _canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def compare(got, want) -> str | None:
    """Order-insensitive equality of two pandas frames, columns by name."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    a = sorted(tuple(map(_canon, r)) for r in got[cols].itertuples(index=False, name=None))
    b = sorted(tuple(map(_canon, r)) for r in want[cols].itertuples(index=False, name=None))
    return None if a == b else "values differ"


# --------------------------------------------------------------------------
# closed loop, spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans (run → pass → call → construct/execute), written
    when the run ends."""

    def __init__(self, acct: SparkAccount | None):
        self.acct = acct
        self.spans: list[dict] = []

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append({
            "id": len(self.spans), "parent": parent, "name": name,
            "start": start, "end": end, **attrs,
        })
        return len(self.spans) - 1


class Runner:
    """Closed loop with one client: each call starts when the previous
    one has returned."""

    def __init__(self, workload, tracer: Tracer | None):
        self.wl = workload
        self.tracer = tracer
        self.seq = 0
        self.failed: list[str] = []
        self.last: dict = {}

    def run_call(self, call: Call, parent: int | None = None):
        """Time one call; with a tracer, tag its phases with job groups
        and record what Spark reports. Returns the constructed value, or
        None if the call raised."""
        self.seq += 1
        acct = self.tracer.acct if self.tracer else None
        gid = f"perfbench-{self.seq}-{call.name}"
        t0 = time.perf_counter()
        try:
            if acct:
                with acct.group(gid + "-construct"):
                    built = call.construct()
            else:
                built = call.construct()
            t1 = time.perf_counter()
            if call.execute is not None:
                if acct:
                    with acct.group(gid + "-execute"):
                        call.execute(built)
                else:
                    call.execute(built)
            t2 = time.perf_counter()
        except Exception as e:  # a failed call is counted, the loop goes on
            self.failed.append(f"{call.name}: {type(e).__name__}: {e}")
            print(f"call failed: {call.name}: {e!r}", file=sys.stderr)
            return None
        rec = {"call": call.name, "layer": call.layer,
               "construct_s": t1 - t0, "execute_s": t2 - t1, "wall_s": t2 - t0}
        if acct:
            acct.settle()
            rec["construct"] = acct.read(gid + "-construct")
            rec["execute"] = acct.read(gid + "-execute")
            rec["trace_s"] = time.perf_counter() - t2
            sid = self.tracer.span(call.name, parent, t0, t2, layer=call.layer)
            self.tracer.span("construct", sid, t0, t1, spark=rec["construct"])
            self.tracer.span("execute", sid, t1, t2, spark=rec["execute"])
        self.last = rec
        return built if built is not None else True

    def window(self, seconds: float, parent: int | None = None) -> tuple[float, list[dict]]:
        """Whole passes until ``seconds`` have elapsed; per-pass records."""
        passes = []
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < seconds:
            p0 = time.perf_counter()
            pid = None
            if self.tracer:
                pid = self.tracer.span(f"pass-{len(passes)}", parent, p0, p0)
            recs = []
            for call in self.wl.calls():
                if self.run_call(call, pid) is not None:
                    recs.append(self.last)
            if self.tracer:
                self.tracer.spans[pid]["end"] = time.perf_counter()
            passes.append({"wall_s": time.perf_counter() - p0, "calls": recs})
        return time.perf_counter() - t0, passes


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(wl, passes: list[dict], nproc: int) -> dict[str, float]:
    """Per-layer metrics: per-pass sums, median over the traced passes."""
    def per_pass(fn):
        return _med(fn(p) for p in passes)

    def calls(p, layer):
        return [c for c in p["calls"] if c["layer"] == layer]

    def both(c, key):
        return c["construct"][key] + c["execute"][key]

    m: dict[str, float] = {}
    ingest = isinstance(wl, FhirIngest)
    m["fhir.gen.corpus_s"] = wl.fixture_s
    # fhir.reader: entry() construction; its file scan runs in the write call
    m["fhir.reader.construct_s"] = per_pass(lambda p: sum(c["construct_s"] for c in calls(p, "fhir.reader")))
    m["fhir.reader.task_s"] = per_pass(lambda p: sum(both(c, "scan_task_s") for c in calls(p, "fhir.write")))
    m["fhir.reader.input_mb"] = per_pass(lambda p: sum(both(c, "scan_input_mb") for c in calls(p, "fhir.write")))
    for layer in ("fhir.write", "fhir.writer"):
        m[f"{layer}.call_s"] = per_pass(lambda p: sum(c["wall_s"] for c in calls(p, layer)))
        m[f"{layer}.jobs"] = per_pass(lambda p: sum(both(c, "jobs") for c in calls(p, layer)))
        m[f"{layer}.output_mb"] = per_pass(lambda p: sum(both(c, "output_mb") for c in calls(p, layer)))
    tables = len(wl.types) if ingest else 0
    m["fhir.write.tables"] = tables
    m["fhir.write.s_per_table"] = m["fhir.write.call_s"] / tables if tables else 0.0
    m["fhir.write.files"] = wl.files_written()
    pass_s = per_pass(lambda p: p["wall_s"])
    m["fhir.bundles_per_s"] = wl.bundles / pass_s if ingest else 0.0
    m["fhir.write_amp"] = (
        (m["fhir.write.output_mb"] + m["fhir.writer.output_mb"]) * 1024 * 1024 / wl.json_bytes
        if ingest else 0.0
    )
    # queries: registry-row construction (corpus_curation only)
    rows = [] if ingest else passes
    m["queries.construct_s"] = _med(sum(c["construct_s"] for c in p["calls"]) for p in rows)
    m["queries.construct_jobs"] = _med(sum(c["construct"]["jobs"] for c in p["calls"]) for p in rows)
    wall = _med(sum(c["wall_s"] for c in p["calls"]) for p in rows)
    m["queries.construct_share"] = m["queries.construct_s"] / wall if wall else 0.0
    for mod in sorted({v for v in CorpusCuration.ROWS.values() if v}):
        m[f"operators.{mod}.construct_s"] = _med(sum(c["construct_s"] for c in calls(p, mod)) for p in rows)
        m[f"operators.{mod}.exec_s"] = _med(sum(c["execute_s"] for c in calls(p, mod)) for p in rows)
        m[f"operators.{mod}.jobs"] = _med(sum(both(c, "jobs") for c in calls(p, mod)) for p in rows)
    for key in ("worker_s", "boot_s", "init_s", "sent_mb", "recv_mb"):
        m[f"python.{key}"] = per_pass(lambda p: sum(both(c, f"python.{key}") for c in p["calls"]))
    exec_s = per_pass(lambda p: sum(c["execute_s"] for c in p["calls"]))
    m["spark.exec_s"] = exec_s
    for key in SPARK_KEYS:
        if not key.startswith("scan_"):
            m[f"spark.{key}"] = per_pass(lambda p: sum(both(c, key) for c in p["calls"]))
    exec_task_s = per_pass(lambda p: sum(c["execute"]["task_s"] for c in p["calls"]))
    m["spark.core_util"] = exec_task_s / (exec_s * nproc) if exec_s else 0.0
    return m


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------

def run(args) -> dict:
    ctx = host_context()
    print(json.dumps({"context": ctx}), flush=True)
    steal0, total0 = cpu_times()
    from inputs import derive_tables

    run_dir = WORK / f"{args.workload}-seed{args.seed}"
    sf_dir = run_dir / f"sf0.1-seed{args.seed}"
    isolate(ctx, run_dir)
    # Set-up is timed once, cold: the run directory was just wiped and
    # the JVM has not started. The seeded tables are derived before the
    # memory sampler starts, so only the program's memory is sampled.
    t0 = time.perf_counter()
    derive_tables(args.seed, str(sf_dir))
    inputs_s = time.perf_counter() - t0
    pa.default_memory_pool().release_unused()
    spark = None
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_session(ctx, run_dir)
            session_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            wl = WORKLOADS[args.workload](spark, sf_dir, run_dir)
            wl.prepare()
            warm_up(spark)
            setup_s = inputs_s + session_s + time.perf_counter() - t0
            runner = Runner(wl, None)

            if args.trace:
                runner.tracer = Tracer(SparkAccount(spark))
                run_t0 = time.perf_counter()
                root = runner.tracer.span(f"{wl.name}-seed{args.seed}", None, run_t0, run_t0)
                _, passes = runner.window(args.seconds, root)
                runner.tracer.spans[root]["end"] = time.perf_counter()
            else:
                elapsed, passes = runner.window(args.seconds)
        # verification and the metrics below run after the sampler stopped
        t0 = time.perf_counter()
        bad = wl.verify()
        verify_s = time.perf_counter() - t0
        if args.trace:
            metrics = layer_metrics(wl, passes, ctx["nproc"])
            metrics["session.start_s"] = session_s
            metrics["trace.overhead_s"] = _med(
                sum(c["trace_s"] for c in p["calls"]) for p in passes
            )
            (WORK / "traces").mkdir(exist_ok=True)
            with open(WORK / "traces" / f"{run_dir.name}.json", "w") as f:
                json.dump(runner.tracer.spans, f)
        else:
            print(json.dumps({"context": {"passes": len(passes), "call_s": [
                {c["call"]: round(c["wall_s"], 3) for c in p["calls"]} for p in passes
            ]}}), flush=True)
            calls = sum(len(p["calls"]) for p in passes)
            metrics = {"setup_s": setup_s, "calls_per_s": calls / elapsed}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_kb / 1024
    failed = len(runner.failed) + len(bad)
    for why in runner.failed + bad:
        print(f"failure: {why}", file=sys.stderr)
    steal1, total1 = cpu_times()
    print(json.dumps({"context": {
        "error_ratio": failed / runner.seq, "calls": runner.seq, "verify_s": verify_s,
        "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
    }}), flush=True)
    units = {k: unit_of(k) for k in metrics} if args.trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": runner.seq,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in sorted(metrics)},
    }


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_per_table", "s"), ("_s", "s"),
                         ("_mb", "MB"), ("_share", "ratio"), ("_util", "ratio"),
                         ("_amp", "bytes/byte")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
