"""The benchmark's workloads, each a closed loop: the reference's lookup API,
and a mix of its ETL cascade and ROT batch flows with the registry queries
behind ROADMAP direction 2.

Every workload has the same life cycle, driven by ``run.py``:

* ``setup(rng)`` generates its inputs from the seed and builds nothing the
  timed ops would otherwise build;
* ``warmup()`` runs untimed ops until code generation and lazy set-up are
  done (that time lands in ``setup_s``);
* ``measure(seconds)`` runs ops back to back until the time is up and
  returns one ``Op`` per operation;
* ``check(ops)`` verifies the outputs outside the timed region and marks
  the ops whose output was wrong as failed.

The benchmark calls only the program's public functions. In the traced run
it wraps those calls in spans (see ``trace.py``); in the untraced run the
span calls are no-ops.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import duckdb
import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from perfbench import gen
from perfbench.trace import Tracer
from python_async_sample_spark.api.scatter_gather import KeyedQuery
from python_async_sample_spark.incremental import pipeline as pipeline_mod
from python_async_sample_spark.incremental.pipeline import (
    IncrementalRunner,
    IncrementalStage,
)
from python_async_sample_spark.incremental.sink import read_target
from python_async_sample_spark.incremental.state import WatermarkStore
from python_async_sample_spark.pipelines.mea_pipeline import run_mea_rot
from python_async_sample_spark.pipelines.rot_pipeline import FLAG_NO_DESIGN, run_rot
from python_async_sample_spark.plans.registry import load_all
from python_async_sample_spark.sources.readers import load_table


@dataclass
class Op:
    latency_s: float
    rows: int
    group: int = 0  # ops that share one output (an ETL pass) fail together
    ok: bool = True


@dataclass
class Workload:
    spark: object
    tracer: Tracer
    work_dir: str
    inputs_dir: str = field(init=False)
    clients = 1  # closed-loop clients issuing ops

    def __post_init__(self):
        self.inputs_dir = os.path.join(self.work_dir, "inputs")
        os.makedirs(self.inputs_dir, exist_ok=True)

    def load(self, name: str):
        with self.tracer.span("sources.readers.load_table"):
            return load_table(self.spark, self.inputs_dir, name)

    def patches(self) -> list[tuple[object, str, object]]:
        """(owner, attribute, replacement) applied for the traced run."""
        return []


# --------------------------------------------------------------- batch_mix

TOOL = "NIKON"
EDC_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)
ETL_DAYS = 1
ETL_ROWS_PER_DAY = 3_300
# a pass is a cold catch-up from EPOCH0 followed by a rewind to this
# mid-day watermark and a re-delivery of the tail
REWIND = timedelta(days=ETL_DAYS - 1, hours=12)


def _us_to_dt(us: int) -> datetime:
    return datetime(1970, 1, 1) + timedelta(microseconds=int(us))


def _dt_to_us(dt: datetime) -> int:
    return int((dt - datetime(1970, 1, 1)) / timedelta(microseconds=1))


class _TimedStore(WatermarkStore):
    """Watermark store that turns every armed ``put`` into one window commit:
    its latency is the time since the previous commit (or since arming), so
    the first window of a stage also pays the stage's high-water probe."""

    def __init__(self, spark, path, tracer: Tracer, on_commit):
        super().__init__(spark, path)
        self.tracer = tracer
        self.on_commit = on_commit
        self.armed_at: float | None = None
        self.last: dict[str, datetime] = {}

    def arm(self) -> None:
        self.armed_at = time.perf_counter()

    def get(self, toolid, apname):
        with self.tracer.span("incremental.state.get"):
            return super().get(toolid, apname)

    def put(self, toolid, apname, wm):
        with self.tracer.span("incremental.state.put"):
            super().put(toolid, apname, wm)
        lo, self.last[apname] = self.last.get(apname), wm
        if self.armed_at is not None:
            now = time.perf_counter()
            self.on_commit(self.armed_at, now, lo, wm)
            self.armed_at = now


class _TracedRunner(IncrementalRunner):
    def __init__(self, spark, store, tracer: Tracer):
        super().__init__(spark, store, TOOL)
        self.tracer = tracer

    def source_high_water(self, stage):
        with self.tracer.span("incremental.pipeline.source_high_water"):
            return super().source_high_water(stage)

    def run_cascade(self, stages):
        with self.tracer.span("incremental.pipeline.run_cascade"):
            return super().run_cascade(stages)


# Registry queries of ROADMAP direction 2, one per layer the plans reach:
# sources.versioned (purge), streaming (dedup of a re-delivered stream),
# operators (SimHash). The streaming one is q71 rather than direction 2's
# q103, its bounded-state sibling on the same replay: q103 costs ~5 s more a
# run, which the whole set of runs cannot afford. Each maps to the short id
# its per-layer metrics carry.
MIX_QUERIES = {
    "q195_purged_time_travel": "q195",
    "q71_stream_exactly_once_dedup": "q71",
    "q33_simhash_near_pairs": "q33",
}
MIX_ORDERS = 15_000
MIX_DOCS = 500
MIX_DOC_COPIES = 25


def _canon(names: list[str], rows) -> list[tuple]:
    """Rows as tuples in column-name order, floats rounded to 1e-6, sorted:
    an order-insensitive form both engines' results reduce to. The same
    rule as ``tests/oracle_check.compare``, which cannot be reused here: it
    collects a DataFrame again and opens views on every TPC-H table, where
    this compares the Arrow result that was timed."""
    order = sorted(range(len(names)), key=lambda i: names[i])

    def cell(v):
        return round(v, 6) if isinstance(v, float) else v

    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda r: tuple((v is None, str(v)) for v in r))


class BatchMix(Workload):
    """A round is one EDC_Import → ROT_Transform → AVM_Process cascade pass
    over the ``events`` table, one run of each ``MIX_QUERIES`` query over
    the same inputs directory, and one ROT batch (``RotBatch``)."""

    name = "batch_mix"

    def setup(self, rng: np.random.Generator) -> None:
        self.events = gen.gen_events(rng, self.inputs_dir, ETL_DAYS, ETL_ROWS_PER_DAY)
        gen.gen_order_history(rng, self.inputs_dir, MIX_ORDERS)
        self.simhash_pairs = gen.gen_documents(rng, self.inputs_dir, MIX_DOCS, MIX_DOC_COPIES)
        self.src_max = _us_to_dt(self.events.ts_us[-1])
        self.row_bytes = self.events.bytes_per_row
        self.passes: list[str] = []  # target roots of the passes measured
        self.n_passes = 0
        self._ops: list[Op] | None = None
        specs = load_all()
        self.queries = {name: specs[name] for name in MIX_QUERIES}
        con = duckdb.connect()
        for table in ("events", "orders", "documents"):
            path = os.path.join(self.inputs_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {}
        for name, spec in self.queries.items():
            if spec.oracle:
                res = con.execute(spec.oracle)
                cols = [d[0] for d in res.description]
                self.expected[name] = (sorted(cols), _canon(cols, res.fetchall()))
        con.close()
        self.ran: list[tuple[Op | None, str, object]] = []  # (op, query, result)
        self.rot = RotBatch(self.spark, self.tracer, self.work_dir)
        self.rot.setup(rng)
        self.rot_ops: list[Op] | None = None

    def patches(self):
        wrap = self.tracer.wrap
        return [
            (pipeline_mod, "overwrite_window",
             wrap("incremental.sink.overwrite_window", pipeline_mod.overwrite_window)),
            (pipeline_mod, "reconcile", wrap("sources.schema.reconcile", pipeline_mod.reconcile)),
        ]

    def _read_target(self, path):
        with self.tracer.span("incremental.sink.read_target"):
            return read_target(self.spark, path)

    def _stages(self, root: str) -> list[IncrementalStage]:
        edc, rot, avm = (os.path.join(root, n) for n in ("edc", "rot", "avm"))
        return [
            IncrementalStage(
                name="EDC_Import",
                source=lambda s: self.load("events"),
                target_path=edc,
                ts_col="ts",
                target_schema=EDC_SCHEMA,
            ),
            IncrementalStage(
                name="ROT_Transform",
                source=lambda s: self._read_target(edc),
                target_path=rot,
                ts_col="ts",
                transform=lambda df: df.withColumn("value_adj", F.col("value") * 1.1),
                upstream="EDC_Import",
            ),
            IncrementalStage(
                name="AVM_Process",
                source=lambda s: self._read_target(rot),
                target_path=avm,
                ts_col="ts",
                transform=lambda df: df.withColumn("over", F.col("value_adj") > 300.0),
                upstream="ROT_Transform",
            ),
        ]

    def _on_commit(self, t0: float, t1: float, lo: datetime, hi: datetime) -> None:
        ts = self.events.ts_us
        rows = int(np.searchsorted(ts, _dt_to_us(hi), "right")
                   - np.searchsorted(ts, _dt_to_us(lo), "right"))
        if self._ops is not None:
            self._ops.append(Op(t1 - t0, rows, group=len(self.passes) - 1))
        self.tracer.set_op(self.tracer.next_op())

    def one_pass(self) -> None:
        """A cold catch-up of all three stages, then a rewind to a mid-day
        watermark and a re-delivery over the existing partitions."""
        root = os.path.join(self.work_dir, f"pass-{self.n_passes}")
        self.n_passes += 1
        self.passes.append(root)
        store = _TimedStore(self.spark, os.path.join(root, "state"), self.tracer, self._on_commit)
        runner = _TracedRunner(self.spark, store, self.tracer)
        stages = self._stages(root)
        try:
            for wm in (gen.EPOCH0, gen.EPOCH0 + REWIND):
                store.armed_at = None
                for st in stages:
                    store.put(TOOL, st.name, wm)
                self.tracer.set_op(self.tracer.next_op())
                store.arm()
                runner.run_cascade(stages)
        except Exception:
            traceback.print_exc()
            if self._ops is not None:
                t0 = store.armed_at or time.perf_counter()
                self._ops.append(Op(time.perf_counter() - t0, 0, len(self.passes) - 1, False))

    def query(self, name: str) -> None:
        """One registry query: build its plan (the purge and the streaming
        drain run here, eagerly) and pull the result to the driver."""
        qid = MIX_QUERIES[name]
        self.tracer.set_op(self.tracer.next_op())
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"plans.{qid}"):
                result = self.queries[name].fn(self.spark, self.inputs_dir).toArrow()
        except Exception:
            traceback.print_exc()
            result = None
        op = None
        if self._ops is not None:
            op = Op(time.perf_counter() - t0, 0, group=-1, ok=result is not None)
            self._ops.append(op)
        self.ran.append((op, name, result))

    def one_round(self) -> None:
        """Two cascade passes around the queries and the ROT batch: 12 of
        the round's 16 ops are commits, so the median op is a commit, and
        they are spread over the round, so one host stall does not slow
        them all."""
        q195, q71, q33 = MIX_QUERIES
        self.one_pass()
        self.query(q195)
        self.query(q71)
        self.one_pass()
        self.query(q33)
        self.rot.one(self.rot_ops)

    def warmup(self) -> None:
        """Every kind of op once."""
        self.one_pass()
        for name in MIX_QUERIES:
            self.query(name)
        self.rot.one(None)

    def measure(self, seconds: float) -> list[Op]:
        self.passes.clear()
        self._ops, self.rot_ops = [], []
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.one_round()
        return self._ops + self.rot_ops

    def _check_query(self, name: str, result) -> bool:
        """Against the registry's DuckDB oracle where it has one. q33 has
        none (its hash is engine-defined), so its pairs and distances are
        compared with ``gen.simhash_pairs``, computed at setup."""
        if result is None:
            return False
        if name in self.expected:
            cols, want = self.expected[name]
            names = result.column_names
            rows = zip(*(result[c].to_pylist() for c in names))
            return sorted(names) == cols and _canon(names, rows) == want
        d1, d2, dist = (result[c].to_pylist() for c in ("d1", "d2", "hamming"))
        return dict(zip(zip(d1, d2), dist)) == self.simhash_pairs

    def _check_pass(self, root: str) -> bool:
        """Every target holds exactly the source's rows and values, and every
        watermark sits at the source's high-water mark."""
        ev = self.events
        store = WatermarkStore(self.spark, os.path.join(root, "state"))
        ok = all(
            store.get(TOOL, n) == self.src_max
            for n in ("EDC_Import", "ROT_Transform", "AVM_Process")
        )
        for target in ("edc", "rot", "avm"):
            t = ds.dataset(
                os.path.join(root, target), format="parquet", partitioning="hive",
                ignore_prefixes=[".", "_SUCCESS"],
            ).to_table(columns=["event_id", "value"])
            ok = ok and (
                t.num_rows == ev.n_rows
                and pc.sum(t["event_id"]).as_py() == ev.event_id_sum
                and int(np.round(t["value"].to_numpy() * 100).sum()) == ev.value_cents_sum
            )
        return ok

    def check(self, ops: list[Op]) -> None:
        self.rot.check(self.rot_ops)
        for op, name, result in self.ran:
            if op is not None:
                op.ok = op.ok and self._check_query(name, result)
        bad = set()
        for i, root in enumerate(self.passes):
            try:
                ok = self._check_pass(root)
            except (OSError, ValueError):  # a pass that died left no target
                traceback.print_exc()
                ok = False
            if not ok:
                bad.add(i)
        for op in self._ops:
            op.ok = op.ok and op.group not in bad


# ------------------------------------------------------------------ lookup

LOOKUP_CUSTOMERS = 5_000
LOOKUP_ORDERS = 50_000
LOOKUP_CLIENTS = 2
LOOKUP_REPEAT_SHARE = 0.25  # an assumption, see gen.BLOCK
LOOKUP_WARMUP_REQUESTS = 16


class Lookup(Workload):
    """Scatter-gather lookups: customers → orders → lineitem, existence-
    filtered by the ``l_quantity >= 45`` summary, pulled to the driver."""

    name = "lookup"
    clients = min(LOOKUP_CLIENTS, os.cpu_count() or 1)

    def setup(self, rng: np.random.Generator) -> None:
        self.rows_per_customer = gen.gen_orders(
            rng, self.inputs_dir, LOOKUP_CUSTOMERS, LOOKUP_ORDERS
        )
        self.requests = gen.request_mix(rng, LOOKUP_CUSTOMERS, 4_000, LOOKUP_REPEAT_SHARE)
        # warm-up sends other lists of the same sizes, so nothing the timed
        # requests ask for has been asked before they start
        self.warm_requests = gen.request_mix(
            rng, LOOKUP_CUSTOMERS, LOOKUP_WARMUP_REQUESTS, LOOKUP_REPEAT_SHARE
        )
        self._lock = threading.Lock()

    def expected_rows(self, keys: tuple[int, ...]) -> int:
        return int(self.rows_per_customer[list(set(keys))].sum())

    def request(self, keys: tuple[int, ...]):
        """One API call: build the plan over the sources, run it, collect."""
        with self.tracer.span("api.scatter_gather.plan"):
            orders = self.load("orders")
            lineitem = self.load("lineitem")
            api = KeyedQuery(
                history=orders.select(
                    F.col("o_custkey").alias("c_custkey"), F.col("o_orderkey").alias("l_orderkey")
                ),
                result=lineitem,
                key_col="c_custkey",
                link_cols=["l_orderkey"],
            )
            keys_df = self.spark.createDataFrame([(k,) for k in keys], "c_custkey bigint")
            summary = lineitem.where(F.col("l_quantity") >= 45).select("l_orderkey")
            out = api.glass_raw_data(keys_df, summary=summary)
        with self.tracer.span("api.scatter_gather.exec"):
            return out.toArrow()

    def _take(self) -> tuple[int, tuple[int, ...]] | None:
        with self._lock:
            i = self._next
            self._next += 1
        return (i, self._queue[i]) if i < len(self._queue) else None

    def _client(self, deadline: float, out: list[Op], results: dict) -> None:
        while time.perf_counter() < deadline:
            taken = self._take()
            if taken is None:
                return
            i, keys = taken
            self.tracer.set_op(i)
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op.lookup"):
                    n = self.request(keys).num_rows
            except Exception:
                traceback.print_exc()
                n = -1
            out.append(Op(time.perf_counter() - t0, max(n, 0), group=i, ok=n >= 0))
            results[i] = (keys, n)

    def _run_clients(self, deadline: float, queue) -> tuple[list[Op], dict]:
        self._queue, self._next = queue, 0
        ops: list[Op] = []
        results: dict = {}
        errors: list[BaseException] = []

        def body():
            try:
                self._client(deadline, ops, results)
            except BaseException as e:  # surfaced after join
                errors.append(e)

        threads = [threading.Thread(target=body, name=f"client-{c}") for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return ops, results

    def warmup(self) -> None:
        """A fixed number of requests, so the warm-up time is the program's."""
        self._run_clients(float("inf"), self.warm_requests)

    def measure(self, seconds: float) -> list[Op]:
        ops, self.results = self._run_clients(time.perf_counter() + seconds, self.requests)
        return ops

    def check(self, ops: list[Op]) -> None:
        for op in ops:
            keys, n = self.results[op.group]
            op.ok = op.ok and n == self.expected_rows(keys)


# ---------------------------------------------------------------- rot_batch

ROT_PRODUCTS = 20
ROT_GLASSES_PER_PRODUCT = 100
ROT_BATCH_PRODUCTS = 5
ROT_TOL = 2e-3  # residual bound; the planted noise is N(0, 1e-4)


class RotBatch(Workload):
    """Per-glass ROT fits on 5-product batches, wide and EAV shapes, with
    header/detail/rejects written to parquet for both: one op of
    ``BatchMix``'s round."""

    def setup(self, rng: np.random.Generator) -> None:
        self.m = gen.gen_metrology(rng, self.inputs_dir, ROT_PRODUCTS, ROT_GLASSES_PER_PRODUCT)
        order = rng.permutation(ROT_PRODUCTS)
        self.batches = [
            tuple(int(p) for p in order[i : i + ROT_BATCH_PRODUCTS])
            for i in range(0, ROT_PRODUCTS, ROT_BATCH_PRODUCTS)
        ]
        self.n_ops = 0
        self.done: dict[int, tuple[tuple[int, ...], str]] = {}  # op -> (products, output dir)
        self.out_root = os.path.join(self.work_dir, "out")

    def _write(self, layer: str, out, dest: str) -> None:
        with self.tracer.span(f"{layer}.write"):
            for part in ("header", "detail", "rejects"):
                getattr(out, part).write.mode("overwrite").parquet(os.path.join(dest, part))

    def batch(self, products: tuple[int, ...], dest: str) -> None:
        wide = self.load("metro_wide").where(F.col("product").isin(*products)).drop("product")
        design_glasses = self.load("design_glasses")
        with self.tracer.span("pipelines.rot_pipeline.plan"):
            rot = run_rot(wide, design_glasses)
        self._write("pipelines.rot_pipeline", rot, os.path.join(dest, "rot"))
        eav = self.load("metro_eav").where(F.col("product").isin(*products)).drop("product")
        design = self.load("mea_design")
        with self.tracer.span("pipelines.mea_pipeline.plan"):
            mea = run_mea_rot(eav, design)
        self._write("pipelines.mea_pipeline", mea, os.path.join(dest, "mea"))

    def one(self, ops: list[Op] | None) -> None:
        i = self.n_ops
        self.n_ops += 1
        products = self.batches[i % len(self.batches)]
        dest = os.path.join(self.out_root, f"op-{i}")
        self.tracer.set_op(self.tracer.next_op())
        t0 = time.perf_counter()
        ok = True
        try:
            with self.tracer.span("op.rot_batch"):
                self.batch(products, dest)
        except Exception:
            traceback.print_exc()
            ok = False
        if ops is not None:
            # rows stay 0: the mix's rows_per_s counts committed source rows
            ops.append(Op(time.perf_counter() - t0, 0, group=i, ok=ok))
            self.done[i] = (products, dest)

    def check(self, ops: list[Op]) -> None:
        for op in ops:
            products, dest = self.done[op.group]
            op.ok = op.ok and self._check_batch(products, dest)

    def _check_batch(self, products, dest) -> bool:
        m = self.m
        in_batch = np.isin(m.product_of_glass, products)
        site_null = m.null_x.reshape(-1, gen.SITES)
        glass_ids = np.arange(len(in_batch)) + gen.GLASS0
        dv = in_batch & m.has_design
        no_null = ~site_null.any(axis=1)

        rot_h = pq.read_table(os.path.join(dest, "rot", "header"))
        flags = rot_h["flag"].to_numpy()
        rot_rej = pq.read_table(os.path.join(dest, "rot", "rejects")).num_rows
        rot_d = pq.read_table(os.path.join(dest, "rot", "detail"))
        mea_rej = pq.read_table(os.path.join(dest, "mea", "rejects")).num_rows
        mea_d = pq.read_table(os.path.join(dest, "mea", "detail"))
        mea_h = pq.read_table(os.path.join(dest, "mea", "header"))

        # A fitted glass's rotated residual is (sx'-sx) - dy(t'-t) + noise at
        # every site, so small residuals at all 48 sites mean the fit
        # recovered the planted shift and rotation.
        mea_good = glass_ids[in_batch & no_null]
        mea_res = np.abs(mea_d["rot_rs"].to_numpy()[np.isin(mea_d["rot_id"].to_numpy(), mea_good)])
        return bool(
            (flags == 1).sum() == dv.sum()
            and (flags == FLAG_NO_DESIGN).sum() == (in_batch & ~m.has_design).sum()
            and rot_rej == site_null[dv].sum()
            and rot_d.num_rows == 2 * (gen.SITES * dv.sum() - site_null[dv].sum())
            and np.abs(rot_d["rot_rs"].to_numpy()).max() < ROT_TOL
            and mea_h.num_rows == in_batch.sum()
            and mea_rej == site_null[in_batch].sum()
            and len(mea_res) == 2 * gen.SITES * len(mea_good)
            and mea_res.max() < ROT_TOL
        )


WORKLOADS = {w.name: w for w in (BatchMix, Lookup)}
