"""The benchmark's four workloads, each a closed loop with one client.

A workload prepares its inputs (``prepare``), warms up, then yields units
of ops: one op for the transfers, one pass over the query list for
``query_mix``, one release cycle for ``release_incremental``. Each op has an
untimed ``reset`` before it and an untimed ``check`` after it; only ``run``
is timed.

Checks are independent of the package: expected transfer outputs are
computed here with plain Spark SQL from the generated source, never through
``dbtransfer_spark.transforms``.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import datagen
from spans import Tracer, dir_bytes

# the mapped fixture's reference transforms (config.yaml shapes), and the
# Spark SQL each must equal; the check uses the right-hand side
TRANSFORMS = {
    "lineitem": {
        "l_returnflag": ("UPPER(l_returnflag)", "upper(l_returnflag)"),
        "l_extendedprice": ("l_extendedprice * 100", "l_extendedprice * 100"),
    },
    "orders": {
        "o_orderdate": (
            "DATE_FORMAT(o_orderdate, '%Y-%m-%d')",
            "date_format(o_orderdate, 'yyyy-MM-dd')",
        ),
        "o_orderpriority": (
            "CONCAT(o_orderpriority, '/', o_orderstatus)",
            "concat(o_orderpriority, '/', o_orderstatus)",
        ),
    },
    "customer": {
        "c_name": ("UPPER(c_name)", "upper(c_name)"),
        "c_acctbal": ("IFNULL(c_acctbal, 0) * 100", "coalesce(c_acctbal, 0) * 100"),
    },
}
TRANSFER_TABLES = ("lineitem", "orders", "customer", "part", "supplier", "nation", "region")
# rate_limit far above any reachable rows/s, so the governor never sleeps
RATE_LIMIT = 10**12
# query_mix: headline shapes spanning the operator modules (relational
# scan/agg/join, session windows, as-of join, exact dedup, text, similarity)
QUERY_MIX = (
    "transfer_transform",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "events_session_30m",
    "asof_last_purchase",
    "dedup_exact_fingerprint",
    "text_stats",
    "knn_bruteforce_cosine",
)
# the tables those queries read
QUERY_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")
WARM_OPS = 2  # transfer_upsert ops before timing starts
# the generated data is the same in every run; the run's seed changes only
# its arrangement (table order, batch split, cut, query order)
DATA_SEED = 42


@dataclass
class Op:
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], int]  # rows delivered; raises CheckFailed
    reset: Callable[[], None] = lambda: None


class CheckFailed(AssertionError):
    pass


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def fingerprint(spark, frames: dict[str, Any]) -> dict[str, tuple[int, int]]:
    """{name: (rows, order-independent checksum)} in ONE job: the sum of
    every row's xxhash64 as an exact decimal, so duplicate rows count
    (a multiset comparison, not a key-set one). Columns are hashed in name
    order: the sink's merge path moves the key columns to the front."""
    parts = [
        df.selectExpr(
            f"'{name}' AS t",
            "1L AS n",
            f"CAST(xxhash64({', '.join(sorted(df.columns))}) AS DECIMAL(38, 0)) AS h",
        )
        for name, df in frames.items()
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    rows = union.groupBy("t").agg({"n": "sum", "h": "sum"}).collect()
    got = {r["t"]: (int(r["sum(n)"]), int(r["sum(h)"] or 0)) for r in rows}
    return {name: got.get(name, (0, 0)) for name in frames}


def transformed(df, table: str):
    """The expected destination rows: plain Spark SQL, same column order."""
    exprs = {col: sql for col, (_ref, sql) in TRANSFORMS.get(table, {}).items()}
    return df.selectExpr(*[f"{exprs[c]} AS {c}" if c in exprs else c for c in df.columns])


class Workload:
    name = ""
    # seconds one unit takes, checks included, on the reference 4-core host:
    # a run times round(--seconds / unit_s) units, a fixed amount of work
    unit_s = 1.0

    def __init__(self, spark, root: str, seed: int, sf: float):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.sf = sf
        self.tracer: Tracer | None = None  # set for the traced run only
        self.rng = random.Random(seed)

    def prepare(self, work_dir: str) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def unit(self) -> list[Op]:
        """The ops the timed loop runs as a whole, never cut between them."""
        raise NotImplementedError

    def instrument(self) -> None:
        """Install the run-wide timing wrappers (traced run only)."""

    def layer_metrics(self, op_spans) -> dict[str, float]:
        return {}


# -- transfers ---------------------------------------------------------------


class _Transfer(Workload):
    tables: tuple[str, ...] = ()
    chunk_rows: int | None = None

    def _config(self, tables: list[str]):
        from dbtransfer_spark.config import (
            ColumnTransformation,
            Config,
            DBConfig,
            MigrationConfig,
            TableMapping,
        )

        mappings = [
            TableMapping(
                name=t,
                column_transformations=[
                    ColumnTransformation(col, ref)
                    for col, (ref, _sql) in TRANSFORMS.get(t, {}).items()
                ],
            )
            for t in tables
        ]
        cfg = Config(
            source=DBConfig(type="parquet", database=self.src, tables=mappings),
            destination=DBConfig(type="parquet", database=self.dst),
            migration=MigrationConfig(
                workers=4, rate_limit=RATE_LIMIT, checkpoint_dir=self.ckpt
            ),
        )
        cfg.set_defaults()
        return cfg

    def _paths(self, work_dir: str) -> None:
        self.src = os.path.join(work_dir, "src")
        self.dst = os.path.join(work_dir, "dst")
        self.ckpt = os.path.join(work_dir, "ckpt")

    def _engine(self, tables: list[str]):
        from dbtransfer_spark.engine import TransferEngine

        engine = TransferEngine(self.spark, self._config(tables), chunk_rows=self.chunk_rows)
        if self.tracer is not None:
            self._instrument(engine)
        return engine

    def _instrument(self, engine) -> None:
        """Wrap the engine's public collaborators (per op, after
        ``TransferEngine`` is built; the module-level wrapper is installed
        once, by ``instrument``)."""
        t = self.tracer
        sink = engine.sink

        def on_upsert(rows, args, _kw):
            df, table = args[0], args[1]
            t.add("upsert_calls", 1)
            t.add("upsert_rows", max(0, rows))
            t.add("upsert_bytes_written", dir_bytes(sink._path(table.effective_target)))
            t.add(f"delivered_rows:{table.name}", max(0, rows))

        def on_sleep(slept, _a, _kw):
            t.add("limiter_calls", 1)
            t.add("limiter_sleep_s", slept)

        t.wrap(sink, "upsert", "sources.parquet.upsert", on_upsert)
        t.wrap(engine.source, "read", "sources.parquet.read")
        t.wrap(engine.source, "count_rows", "sources.parquet.count_rows")
        t.wrap(engine.store, "save", "checkpoint.save")
        t.wrap(engine.store, "load", "checkpoint.load")
        t.wrap(engine.limiter, "acquire", "governance.acquire", on_sleep)

    def instrument(self) -> None:
        import dbtransfer_spark.engine as engine_mod

        # the engine calls the name it imported from transforms
        self.tracer.wrap(engine_mod, "apply_transforms", "transforms.apply")

    def _expected(self) -> dict[str, tuple[int, int]]:
        frames = {
            t: transformed(self.spark.read.parquet(os.path.join(self.src, f"{t}.parquet")), t)
            for t in self.tables
        }
        return fingerprint(self.spark, frames)

    def _check_destination(self, result: dict, expected_rows: dict[str, int]) -> int:
        for t in self.tables:
            r = result.get(t, {})
            expect("error" not in r and "rows" in r, f"{t}: {r}")
            expect(r["rows"] == expected_rows[t], f"{t}: {r['rows']} rows, want {expected_rows[t]}")
        frames = {
            t: self.spark.read.parquet(os.path.join(self.dst, f"{t}.parquet")) for t in self.tables
        }
        got = fingerprint(self.spark, frames)
        for t in self.tables:
            expect(got[t] == self.expected[t], f"{t}: {got[t]} != {self.expected[t]}")
        if self.tracer is not None:
            # bytes of the delivered rows, for write amplification
            for t in self.tables:
                rows_now, _ = got[t]
                size = dir_bytes(os.path.join(self.dst, f"{t}.parquet"))
                delivered = self.tracer.counts.pop(f"delivered_rows:{t}", 0)
                if rows_now:
                    self.tracer.add("delivered_bytes", size * delivered / rows_now)
        return sum(result[t]["rows"] for t in self.tables)

    def layer_metrics(self, op_spans) -> dict[str, float]:
        t = self.tracer
        n = max(1, len(op_spans))
        c = t.counts
        delivered = c.get("delivered_bytes", 0.0)
        return {
            "sources.parquet.upsert_s": t.total("sources.parquet.upsert") / n,
            "sources.parquet.upsert_calls": c.get("upsert_calls", 0) / n,
            "sources.parquet.upsert_rows": c.get("upsert_rows", 0) / n,
            "sources.parquet.upsert_bytes_written": c.get("upsert_bytes_written", 0) / n,
            "sources.parquet.write_amplification": (
                c.get("upsert_bytes_written", 0) / delivered if delivered else 0.0
            ),
            "sources.parquet.read_s": t.total("sources.parquet.read") / n,
            "sources.parquet.count_rows_s": t.total("sources.parquet.count_rows") / n,
            "sources.parquet.count_rows_calls": t.calls("sources.parquet.count_rows") / n,
            "engine.self_s": sum(t.self_time(s) for s in op_spans) / n,
            "transforms.apply_s": t.total("transforms.apply") / n,
            "transforms.apply_calls": t.calls("transforms.apply") / n,
            "checkpoint.save_s": t.total("checkpoint.save") / n,
            "checkpoint.saves": t.calls("checkpoint.save") / n,
            "checkpoint.load_s": t.total("checkpoint.load") / n,
            "checkpoint.loads": t.calls("checkpoint.load") / n,
            "governance.limiter_sleep_s": c.get("limiter_sleep_s", 0.0) / n,
            "governance.limiter_calls": c.get("limiter_calls", 0) / n,
        }


class TransferUpsert(_Transfer):
    name = "transfer_upsert"
    unit_s = 2.5
    tables = TRANSFER_TABLES

    def prepare(self, work_dir: str) -> None:
        self._paths(work_dir)
        datagen.write_tables(self.src, DATA_SEED, self.sf, self.tables)
        self.expected = self._expected()
        self.order = list(self.tables)
        random.Random(self.seed).shuffle(self.order)

    def warm_up(self) -> None:
        # the first op seeds the destination, so every later op takes the
        # merge path; the second compiles that path before timing starts.
        # The timed ops still speed up a little, alike in every run, since
        # every run times as many ops. Only the last is checked: a check
        # costs a third of an op.
        for _ in range(WARM_OPS):
            op = self._op()
            op.reset()
            result = op.run()
        op.check(result)

    def _op(self) -> Op:
        holder = {}

        def reset():
            shutil.rmtree(self.ckpt, ignore_errors=True)
            holder["engine"] = self._engine(self.order)

        def run():
            return holder["engine"].run()

        want = {t: self.expected[t][0] for t in self.tables}
        return Op("transfer", run, lambda r: self._check_destination(r, want), reset)

    def unit(self) -> list[Op]:
        return [self._op()]


class TransferResume(_Transfer):
    name = "transfer_resume"
    unit_s = 6.0
    tables = ("lineitem",)
    CHUNKS = 12

    def prepare(self, work_dir: str) -> None:
        self._paths(work_dir)
        self.base = os.path.join(work_dir, "base")
        datagen.write_tables(self.src, DATA_SEED, self.sf, self.tables)
        self.expected = self._expected()
        src = self.spark.read.parquet(os.path.join(self.src, "lineitem.parquet"))
        pct = 0.40 + 0.20 * random.Random(self.seed).random()
        self.cut = int(src.selectExpr(f"percentile(l_orderkey, {pct})").first()[0])
        below = transformed(src, "lineitem").filter(f"l_orderkey <= {self.cut}")
        below.write.mode("overwrite").parquet(os.path.join(self.base, "lineitem.parquet"))
        self.n_remaining = src.filter(f"l_orderkey > {self.cut}").count()
        # a fixed chunk count whatever the cut, so every seed does the same work
        self.chunk_rows = -(-self.n_remaining // self.CHUNKS)

    def warm_up(self) -> None:
        op = self.unit()[0]
        op.reset()
        op.check(op.run())

    def unit(self) -> list[Op]:
        from dbtransfer_spark.checkpoint import Checkpoint, CheckpointStore

        holder = {}

        def reset():
            target = os.path.join(self.dst, "lineitem.parquet")
            shutil.rmtree(target, ignore_errors=True)
            shutil.copytree(os.path.join(self.base, "lineitem.parquet"), target)
            shutil.rmtree(self.ckpt, ignore_errors=True)
            CheckpointStore(self.ckpt, engine="parquet").save(
                "lineitem", Checkpoint(last_key={"l_orderkey": str(self.cut)})
            )
            holder["engine"] = self._engine(["lineitem"])

        def run():
            return holder["engine"].run()

        return [
            Op(
                "resume",
                run,
                lambda r: self._check_destination(r, {"lineitem": self.n_remaining}),
                reset,
            )
        ]


# -- release pipeline --------------------------------------------------------


class ReleaseIncremental(Workload):
    name = "release_incremental"
    unit_s = 10.0
    BATCHES = 5

    def prepare(self, work_dir: str) -> None:
        src = os.path.join(work_dir, "src")
        datagen.write_tables(src, DATA_SEED, self.sf, ("documents",))
        docs = self.spark.read.parquet(os.path.join(src, "documents.parquet")).selectExpr(
            "doc_id", "text", f"pmod(xxhash64({self.seed}, doc_id), 10) AS bucket"
        )
        self.batches = [docs.filter("bucket < 5").drop("bucket")] + [
            # a new tenth plus a tenth the corpus already holds
            docs.filter(f"bucket = {5 + i} OR bucket = {i}").drop("bucket")
            for i in range(self.BATCHES)
        ]
        self.stores = os.path.join(work_dir, "stores")
        self.cycle = 0

    def warm_up(self) -> None:
        # one checked cycle; it records each op's counts, which every later
        # cycle must repeat exactly
        self.reference, self.first_cycle = None, []
        for op in self.unit():
            op.reset()
            op.check(op.run())
        self.reference = self.first_cycle

    def unit(self) -> list[Op]:
        from dbtransfer_spark.pipelines import incremental_release
        from dbtransfer_spark.sources.versioned import VersionedDatasetStore

        self.cycle += 1
        root = os.path.join(self.stores, f"cycle{self.cycle}")
        holder = {}

        def reset_first():
            shutil.rmtree(self.stores, ignore_errors=True)
            holder["store"] = VersionedDatasetStore(self.spark, root, "corpus", max_data_dirs=4)
            holder["size"] = 0

        def make(i: int) -> Op:
            def run():
                return incremental_release(
                    self.spark, holder["store"], self.batches[i], note=f"batch{i}"
                )

            def check(r) -> int:
                expect(r["n_kept"] + r["n_dropped"] == r["n_batch"], f"counts {r}")
                # the drop count comes from the store: the corpus grows by
                # the survivors. The returned n_kept cannot serve, because
                # on the compacting release it is the whole compacted corpus
                # (n_dropped then reads negative).
                size = holder["store"].read(r["version"]).count()
                dropped = r["n_batch"] - (size - holder["size"])
                holder["size"] = size
                expect(0 <= dropped <= r["n_batch"], f"op {i}: corpus {size}, {r}")
                got = (r["n_batch"], r["n_kept"], r["n_dropped"], size)
                if self.reference is None:
                    self.first_cycle.append(got)
                else:
                    expect(got == self.reference[i], f"op {i}: {got} != {self.reference[i]}")
                if self.tracer is not None:
                    self.tracer.add("n_dropped", dropped)
                return r["n_batch"]

            return Op("seed" if i == 0 else f"incr{i}", run, check, reset_first if i == 0 else (lambda: None))

        return [make(i) for i in range(len(self.batches))]

    def instrument(self) -> None:
        from dbtransfer_spark.sources.versioned import VersionedDatasetStore

        t = self.tracer

        def on_commit(version, args, _kw):
            store = args[0]
            man = store.manifest(version)
            t.add("commits", 1)
            t.add("compactions", 1 if man.get("compaction") else 0)
            t.add("versioned_bytes", dir_bytes(os.path.join(store.ddir, man["data_dirs"][-1])))

        t.wrap(VersionedDatasetStore, "commit", "sources.versioned.commit", on_commit)
        t.wrap(VersionedDatasetStore, "commit_append", "sources.versioned.commit_append", on_commit)

    def layer_metrics(self, op_spans) -> dict[str, float]:
        t = self.tracer
        n = max(1, len(op_spans))
        c = t.counts
        return {
            "pipelines.release_self_s": sum(t.self_time(s) for s in op_spans) / n,
            "pipelines.n_dropped": c.get("n_dropped", 0) / n,
            "sources.versioned.commit_s": t.total("sources.versioned.commit") / n,
            "sources.versioned.commit_append_s": t.total("sources.versioned.commit_append") / n,
            "sources.versioned.commits": c.get("commits", 0) / n,
            "sources.versioned.compactions": c.get("compactions", 0) / n,
            "sources.versioned.bytes_written": c.get("versioned_bytes", 0) / n,
        }


# -- query mix ---------------------------------------------------------------


class QueryMix(Workload):
    name = "query_mix"
    unit_s = 3.0

    def prepare(self, work_dir: str) -> None:
        import time

        import bench
        import __spark_entry__ as entry
        from dbtransfer_spark.catalog import optimize_layout

        unknown = [q for q in QUERY_MIX if q not in bench.HEADLINE]
        if unknown:
            raise ValueError(f"not bench headline queries: {unknown}")
        registry = entry.queries()
        self.queries = {q: registry[q] for q in QUERY_MIX}
        src = os.path.join(work_dir, "src")
        datagen.write_tables(src, DATA_SEED, self.sf, QUERY_TABLES)
        t0 = time.monotonic()
        self.data = optimize_layout(
            self.spark, src, os.path.join(work_dir, "cache"), names=QUERY_TABLES
        )
        self.layout_s = time.monotonic() - t0

    def _write(self, name: str) -> None:
        self.queries[name](self.spark, self.data).write.format("noop").mode("overwrite").save()

    def warm_up(self) -> None:
        # one pass compiles every query; the timed passes still speed up a
        # little, alike in every run, since every run times as many passes
        for name in QUERY_MIX:
            self._write(name)
        self.rows: dict[str, int] = {}  # each query's row count, from the first traced pass

    def unit(self) -> list[Op]:
        """One op is one pass over the queries in a seed-permuted order: a
        pass sums eight latencies, so it is steady where a single query's
        is not. Per-query times come from the traced run's spans."""
        order = list(QUERY_MIX)
        self.rng.shuffle(order)

        def run():
            for name in order:
                if self.tracer is not None:
                    self.tracer.call(f"query.{name}", self._write, name)
                else:
                    self._write(name)

        def check(_r) -> int:
            if self.tracer is not None:
                for name in order:
                    n = self.queries[name](self.spark, self.data).count()
                    want = self.rows.setdefault(name, n)
                    expect(n == want, f"{name}: {n} rows, want {want}")
            # no rows are delivered: count the input rows a pass reads
            return sum(datagen.n_rows(t, self.sf) for t in QUERY_TABLES)

        return [Op("pass", run, check)]

    def layer_metrics(self, op_spans) -> dict[str, float]:
        import statistics

        out = {"catalog.optimize_layout_s": self.layout_s}
        for name in QUERY_MIX:
            times = [s.end - s.start for s in self.tracer.spans if s.name == f"query.{name}"]
            out[f"query.{name}_s"] = statistics.median(times) if times else 0.0
        return out


WORKLOADS = {w.name: w for w in (TransferUpsert, TransferResume, ReleaseIncremental, QueryMix)}
