"""Property tests (SURVEY.md §5.5, hypothesis):

1. Resume-at-any-boundary ≡ full run: a migration interrupted after any
   number of committed batches, then resumed, produces exactly the source
   (at-least-once replay × idempotent upsert = exactly-once effect).
   Exercised on a Mongo transfer through the engine, against the
   file-backed fakes.
2. Transform expressions ≡ DuckDB: any expression from the documented
   transform grammar (README.md:126-142 — UPPER/LOWER/CONCAT/arithmetic/
   IFNULL) evaluates identically in the engine (Catalyst) and DuckDB.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbtransfer_spark.engine import TransferEngine
from tests.conftest import SF_SMOKE, fake_clients
from tests.test_runtime_paths import _mongo_docs, make_config


@given(
    n_docs=st.integers(min_value=0, max_value=507),
    batch_size=st.integers(min_value=1, max_value=120),
    fail_at_batch=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=40, deadline=None)
def test_mongo_resume_any_boundary_equals_full_run(
    spark, tmp_path_factory, n_docs, batch_size, fail_at_batch
):
    """A Mongo transfer whose destination crashes at bulk write
    ``fail_at_batch`` and on (the batches before it committed), then runs
    again, leaves exactly the source; a third run skips."""
    cfg, src, dst = make_config(
        tmp_path_factory.mktemp("t"), "mongodb", ["c"],
        batch_size=batch_size, max_retries=0,
    )
    src.put_rows("c", _mongo_docs(n_docs))
    dst.fail_next("c", 10_000, after=fail_at_batch - 1)

    with fake_clients():
        first = TransferEngine(spark, cfg).run()["c"]
        interrupted = "error" in first
        assert interrupted == (n_docs > (fail_at_batch - 1) * batch_size)
        if interrupted:
            assert not TransferEngine(spark, cfg).store.is_complete("c")
            dst.fail_next("c", 0)  # crash cleared; resume
            TransferEngine(spark, cfg).run()

        assert dst.rows("c") == src.rows("c")
        engine = TransferEngine(spark, cfg)
        assert engine.store.is_complete("c")
        # Idempotent rerun after completion is a no-op.
        assert engine.run()["c"]["skipped"] is True


# ---------------------------------------------------------------------------
# Transform grammar differential property
# ---------------------------------------------------------------------------

_STR_COL, _NUM_COL = "l_returnflag", "l_quantity"

_EXPRS = st.one_of(
    st.sampled_from(
        [
            f"UPPER({_STR_COL})",
            f"LOWER({_STR_COL})",
            f"CONCAT('Status: ', {_STR_COL})",
            f"CONCAT({_STR_COL}, '-', {_STR_COL})",
            f"IFNULL({_STR_COL}, 'x')",
            f"trim({_STR_COL})",
            f"substr({_STR_COL}, 1, 1)",
        ]
    ),
    st.integers(min_value=-100, max_value=100).flatmap(
        lambda k: st.sampled_from(
            [
                f"{_NUM_COL} * {k}",
                f"{_NUM_COL} + {k}",
                f"{_NUM_COL} - ({k})",
                f"ROUND({_NUM_COL} * {k}, 2)",
            ]
        )
    ),
)


@pytest.fixture(scope="module")
def lineitem_sample(spark, tmp_path_factory):
    """500-row lineitem slice shared by every example (ordered by key so
    both engines see identical rows)."""
    path = str(tmp_path_factory.mktemp("li") / "li.parquet")
    (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
        .coalesce(1)
        .write.parquet(path)
    )
    return path


# ---------------------------------------------------------------------------
# Decorrelation differential property (round-3 VERDICT item 8): the
# decorrelated TPC-H plans (q4/q17/q21/q22) vs LITERAL correlated-subquery
# SQL run by DuckDB on randomized micro-fixtures. Round 3's only wrong
# answer (q21 counting (order,supplier) pairs instead of late lineitem
# rows) came from exactly this rewrite class; the generator concentrates
# mass on the failure surface — multiple lineitem rows per (order,
# supplier), ship dates straddling the +60-day blame boundary, dangling
# order keys, dormancy dates straddling the q22 cutoff.
# ---------------------------------------------------------------------------

import tempfile
from datetime import datetime, timedelta

_BASE = datetime(1996, 7, 15)
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@st.composite
def _micro_fixture(draw):
    n_orders = draw(st.integers(min_value=1, max_value=10))
    o_dates = []
    for _ in range(n_orders):
        d = _BASE + timedelta(days=draw(st.integers(-30, 90)))
        if draw(st.booleans()):  # dormancy straddle for q22's date cutoff
            d += timedelta(days=1500)
        o_dates.append(d)
    orders = {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [draw(st.integers(0, 5)) for _ in range(n_orders)],
        "o_orderstatus": [draw(st.sampled_from("FO")) for _ in range(n_orders)],
        "o_totalprice": [100.0] * n_orders,
        "o_orderdate": o_dates,
        "o_orderpriority": [
            draw(st.sampled_from(_PRIORITIES)) for _ in range(n_orders)
        ],
    }
    n_li = draw(st.integers(min_value=0, max_value=30))
    l_orderkey = [draw(st.integers(0, n_orders)) for _ in range(n_li)]
    lineitem = {
        "l_orderkey": l_orderkey,
        "l_partkey": [draw(st.integers(0, 4)) for _ in range(n_li)],
        "l_suppkey": [draw(st.integers(0, 3)) for _ in range(n_li)],
        "l_linenumber": list(range(n_li)),
        "l_quantity": [float(draw(st.integers(1, 50))) for _ in range(n_li)],
        "l_extendedprice": [
            draw(st.integers(100, 100000)) / 100.0 for _ in range(n_li)
        ],
        "l_discount": [0.05] * n_li,
        "l_tax": [0.02] * n_li,
        "l_returnflag": ["N"] * n_li,
        "l_linestatus": ["O"] * n_li,
        # clustered around the order date + 60-day blame boundary
        "l_shipdate": [
            (orders["o_orderdate"][k] if k < n_orders else _BASE)
            + timedelta(days=draw(st.integers(55, 66)))
            for k in l_orderkey
        ],
    }
    n_cust = 6
    customer = {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"c{i}" for i in range(n_cust)],
        "c_nationkey": [draw(st.sampled_from([3, 7, 13, 1])) for _ in range(n_cust)],
        "c_acctbal": [draw(st.integers(-10000, 100000)) / 100.0 for _ in range(n_cust)],
        "c_mktsegment": ["SEG"] * n_cust,
    }
    supplier = {
        "s_suppkey": [0, 1, 2, 3],
        "s_name": ["s0", "s1", "s2", "s3"],
        "s_nationkey": [draw(st.integers(0, 7)) for _ in range(4)],
        # some negative balances so q16's NOT IN deny-list is non-empty
        "s_acctbal": [draw(st.integers(-5000, 5000)) / 100.0 for _ in range(4)],
    }
    part = {
        "p_partkey": list(range(5)),
        # '%bolt%' matches a subset so q20's name prune is exercised
        "p_name": [
            draw(st.sampled_from(["red bolt", "blue widget"])) for _ in range(5)
        ],
        "p_brand": [
            draw(st.sampled_from(["Brand#13", "Brand#2"])) for _ in range(5)
        ],
        "p_type": [draw(st.sampled_from(["t", "PROMO"])) for _ in range(5)],
        # concentrates on q2's p_size = 15 and q16's IN (5,15,25,...)
        "p_size": [draw(st.sampled_from([5, 15, 20])) for _ in range(5)],
        "p_retailprice": [10.0] * 5,
    }
    nation = {
        "n_nationkey": list(range(8)),
        "n_name": [f"NATION_{i}" for i in range(8)],
        "n_regionkey": [i % 5 for i in range(8)],
    }
    region = {
        "r_regionkey": list(range(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    return {
        "orders": orders,
        "lineitem": lineitem,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "nation": nation,
        "region": region,
    }


# Declared column types matching the real fixture parquet schemas — value
# inference would misread empty draws (0 lineitem rows → every column
# int64).
_MICRO_TYPES = {
    "int32": {
        "l_linenumber", "c_nationkey", "s_nationkey", "p_size",
        "n_nationkey", "n_regionkey", "r_regionkey",
    },
    "ts": {"o_orderdate", "l_shipdate"},
    "double": {
        "o_totalprice", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "c_acctbal", "s_acctbal", "p_retailprice",
    },
    "string": {
        "o_orderstatus", "o_orderpriority", "l_returnflag", "l_linestatus",
        "c_name", "c_mktsegment", "s_name", "p_name", "p_brand", "p_type",
        "n_name", "r_name",
    },
}


def _write_micro_fixture(tables: dict) -> str:
    import pyarrow as pa
    import pyarrow.parquet as paq

    tmp = tempfile.mkdtemp(prefix="decorr_")
    for name, cols in tables.items():
        fields = []
        for cname in cols:
            if cname in _MICRO_TYPES["int32"]:
                typ = pa.int32()
            elif cname in _MICRO_TYPES["ts"]:
                typ = pa.timestamp("us")
            elif cname in _MICRO_TYPES["double"]:
                typ = pa.float64()
            elif cname in _MICRO_TYPES["string"]:
                typ = pa.string()
            else:
                typ = pa.int64()
            fields.append(pa.field(cname, typ))
        arrays = [
            pa.array(vals, type=f.type) for vals, f in zip(cols.values(), fields)
        ]
        paq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            f"{tmp}/{name}.parquet",
        )
    return tmp


# Literal correlated Q17 (the registered oracle is itself decorrelated, so
# it can't catch a shared rewrite mistake; this form keeps the correlated
# scalar subqueries — exact cross-multiplied arithmetic, no double
# division near the predicate).
_Q17_CORRELATED = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
         AS total_rev,
       round(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))), 2) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13' AND p_size <= 15
  AND CAST(l_quantity AS DECIMAL(30,10)) * 5 *
      (SELECT count(*) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey)
    < (SELECT sum(CAST(l2.l_quantity AS DECIMAL(30,10))) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey)
"""


def _correlated_sql(qname: str) -> str:
    from dbtransfer_spark.registry import ORACLE

    # q4/q21/q22's registered oracles ARE the literal correlated forms.
    return _Q17_CORRELATED if qname == "q17_small_quantity_revenue" else ORACLE[qname]


def _assert_rows_equal(got: list[tuple], want: list[tuple], ctx: str) -> None:
    assert len(got) == len(want), f"{ctx}: {len(got)} vs {len(want)} rows"
    key = lambda r: tuple("∅" if v is None else str(v) for v in r)  # noqa: E731
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for gv, wv in zip(g, w):
            if isinstance(wv, float) and gv is not None:
                assert gv == pytest.approx(wv, rel=1e-9, abs=1e-8), (ctx, g, w)
            else:
                assert gv == wv, (ctx, g, w)


@pytest.mark.parametrize(
    "qname",
    [
        "q2_min_cost_supplier",
        "q4_order_priority",
        "q11_important_part_value",
        "q16_supplier_part_counts",
        "q17_small_quantity_revenue",
        "q20_heavy_share_suppliers",
        "q21_suppliers_kept_waiting",
        "q22_dormant_customers",
    ],
)
@given(tables=_micro_fixture())
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_decorrelated_tpch_matches_correlated_sql(spark, qname, tables):
    import shutil

    from dbtransfer_spark.registry import QUERIES

    tmp = _write_micro_fixture(tables)
    try:
        got = [tuple(r) for r in QUERIES[qname](spark, tmp).collect()]
        con = duckdb.connect()
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{tmp}/{name}.parquet'"
            )
        want = con.execute(_correlated_sql(qname)).fetchall()
        con.close()
        _assert_rows_equal(got, want, qname)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@given(expr=_EXPRS)
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_transform_grammar_matches_duckdb(spark, lineitem_sample, expr):
    from dbtransfer_spark.transforms import apply_transforms

    df = spark.read.parquet(lineitem_sample)
    got = [
        r["out"]
        for r in apply_transforms(df, {"out": expr})
        .select("out")
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    ]
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT {expr} FROM '{lineitem_sample}/*.parquet' "
            "ORDER BY l_orderkey, l_linenumber"
        ).fetchall()
    ]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if isinstance(w, float):
            assert g == pytest.approx(w, rel=1e-12)
        else:
            assert g == w


# ---------------------------------------------------------------------------
# Binned range join ≡ naive BETWEEN join (the helper is generic; the bin
# quantization must never add or drop a match, including intervals that
# touch bin edges and duplicate points)
# ---------------------------------------------------------------------------


@given(
    points=st.lists(st.integers(0, 400), min_size=0, max_size=60),
    ivs=st.lists(
        st.tuples(st.integers(0, 400), st.integers(0, 60)),
        min_size=0,
        max_size=20,
    ),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_binned_range_join_matches_naive(spark, points, ivs):
    from pyspark.sql import functions as F

    from dbtransfer_spark.operators.rangejoin import binned_range_join

    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(points)], "pid int, pday long"
    )
    intervals = spark.createDataFrame(
        [(i, lo, lo + span) for i, (lo, span) in enumerate(ivs)],
        "iid int, lo_day long, hi_day long",
    )
    got = sorted(
        (r["pid"], r["iid"])
        for r in binned_range_join(
            pts, intervals, "pday", "lo_day", "hi_day", bin_days=61
        ).collect()
    )
    want = sorted(
        (r["pid"], r["iid"])
        for r in pts.join(
            intervals,
            (F.col("pday") >= F.col("lo_day"))
            & (F.col("pday") <= F.col("hi_day")),
        ).collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# distributed_prefix_sum ≡ single-partition cumulative sum, for any data
# shape and partition count (duplicate keys, zero/negative values, empty)
# ---------------------------------------------------------------------------


@given(
    vals=st.lists(
        st.tuples(st.integers(0, 50), st.integers(-100, 100)),
        min_size=0,
        max_size=80,
    ),
    n_parts=st.integers(min_value=1, max_value=9),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_distributed_prefix_sum_matches_global_cumsum(spark, vals, n_parts):
    from pyspark.sql import functions as F

    from dbtransfer_spark.queries import distributed_prefix_sum

    rows = [(i, k, v) for i, (k, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "uid long, k long, v long") if rows else (
        spark.createDataFrame([], "uid long, k long, v long")
    )
    got = {
        r["uid"]: r["__cum"]
        for r in distributed_prefix_sum(
            df, ["k", "uid"], "v", n_partitions=n_parts
        ).collect()
    }
    # reference: plain python cumsum in (k, uid) order
    want, acc = {}, 0
    for uid, k, v in sorted(rows, key=lambda r: (r[1], r[0])):
        acc += v
        want[uid] = acc
    assert got == want


# ---------------------------------------------------------------------------
# JSONL round-trip fidelity under adversarial strings
# ---------------------------------------------------------------------------

_jsonl_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",),  # no lone surrogates
                max_codepoint=0x2FFF,
            ),
            max_size=40,
        ),
    ),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)


@given(rows=_jsonl_rows)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_jsonl_sink_roundtrip_preserves_rows(spark, rows):
    """Upsert-write arbitrary (id, text) rows through the JSONL sink and
    read them back through the JSONL source path: keys, values, and
    row count must survive newline-hostile and non-ASCII strings
    (json.dumps escapes are the contract)."""
    import tempfile

    from pyspark.sql import types as T

    from dbtransfer_spark.config import DBConfig, TableMapping
    from dbtransfer_spark.sources import files as fsrc

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    with tempfile.TemporaryDirectory() as d:
        cfg = DBConfig(type="jsonl", database=d)
        sink = fsrc.JsonlSink(spark, cfg)
        df = spark.createDataFrame(rows, schema)
        sink.upsert(df, TableMapping(name="t"), ["id"])
        src = fsrc.JsonlSource(spark, cfg)
        back = src.read(TableMapping(name="t", primary_key="id"))
        got = {(r["id"], r["v"]) for r in back.collect()}
        assert got == set(rows)


# ---------------------------------------------------------------------------
# duplicate_block_ratio ≡ a brute-force Python reference, for any corpus
# of short synthetic docs (shared blocks, within-doc repeats, tail <10)
# ---------------------------------------------------------------------------


@given(
    docs=st.lists(
        st.lists(st.integers(0, 5), min_size=0, max_size=35),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_duplicate_block_ratio_matches_bruteforce(spark, tmp_path_factory, docs):
    from collections import Counter

    from dbtransfer_spark.operators.dedup import _BLOCK, duplicate_block_ratio

    texts = [" ".join(f"t{w}" for w in d) for d in docs]
    rows = [
        (i, t, "en", "s", len(t)) for i, t in enumerate(texts) if len(t) > 0
    ]
    if not rows:
        return
    d = str(tmp_path_factory.mktemp("fx"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(d + "/documents.parquet")

    # brute-force reference: non-overlapping _BLOCK-token blocks, global
    # occurrence counts, per-doc dup share
    blocks_per_doc = {}
    for i, t, *_ in rows:
        toks = t.split(" ")
        blocks_per_doc[i] = [
            " ".join(toks[j * _BLOCK : (j + 1) * _BLOCK])
            for j in range(len(toks) // _BLOCK)
        ]
    occ = Counter(b for bs in blocks_per_doc.values() for b in bs)
    got = {r["doc_id"]: r for r in duplicate_block_ratio(spark, d).collect()}
    assert set(got) == set(blocks_per_doc)
    for i, bs in blocks_per_doc.items():
        n_dup = sum(1 for b in bs if occ[b] >= 2)
        assert got[i]["n_blocks"] == len(bs)
        assert got[i]["n_dup_blocks"] == n_dup
        want_ppm = n_dup * 1_000_000 // max(len(bs), 1)
        assert got[i]["dup_ppm"] == want_ppm
        assert got[i]["keep"] == (n_dup * 2 <= len(bs) or len(bs) == 0)


# ---------------------------------------------------------------------------
# Versioned store ≡ a Python model, under any operation sequence
# ---------------------------------------------------------------------------


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("commit"), st.integers(1, 6)),
            st.tuples(st.just("append"), st.integers(1, 6)),
            st.tuples(st.just("vacuum"), st.integers(1, 3)),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_versioned_store_matches_model(spark, tmp_path_factory, ops):
    """Random commit/append/vacuum sequences: the store's visible state
    (latest version, row multiset per surviving version) must equal a
    pure-Python model's at every step."""
    from dbtransfer_spark.sources.versioned import VersionedDatasetStore

    store = VersionedDatasetStore(
        spark, str(tmp_path_factory.mktemp("vstore")), "t"
    )
    model: dict[int, list[int]] = {}   # version -> sorted doc ids
    latest = None
    next_id = 0
    for op, arg in ops:
        if op == "commit":
            ids = list(range(next_id, next_id + arg))
            next_id += arg
            df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
            v = store.commit(df)
            model[v] = sorted(ids)
            latest = v
        elif op == "append":
            ids = list(range(next_id, next_id + arg))
            next_id += arg
            df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
            if latest is None:
                # append on empty store = full commit semantics
                v = store.commit(df)
                model[v] = sorted(ids)
            else:
                v = store.commit_append(df)
                model[v] = sorted(model[latest] + ids)
            latest = v
        else:  # vacuum
            if latest is None:
                continue
            dropped = store.vacuum(keep_last=arg)
            for d in dropped:
                model.pop(d, None)
        # invariants after every op
        assert store.latest_version() == latest
        assert sorted(store.versions()) == sorted(model)
        for v, want in model.items():
            got = sorted(r["doc_id"] for r in store.read(v).collect())
            assert got == want, (v, got, want)


# ---------------------------------------------------------------------------
# File-sink upsert ≡ dict model, for any batch sequence (overlaps, updates,
# replays) and every file format
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("fmt", ["parquet", "orc", "jsonl", "csv"])
@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.integers(0, 15), st.integers(0, 99)),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=5,
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_columnar_sink_upsert_matches_model(spark, tmp_path_factory, fmt, batches):
    """Any sequence of overlapping upsert batches: the sink must equal a
    last-write-wins dict (within a batch, duplicate keys may keep either
    row — the model tracks the admissible set)."""
    from dbtransfer_spark.config import DBConfig, TableMapping
    from dbtransfer_spark.sources.base import get_sink
    from dbtransfer_spark.sources.parquet import read_files

    d = str(tmp_path_factory.mktemp("sink"))
    sink = get_sink(spark, DBConfig(type=fmt, database=d))
    tm = TableMapping(name="t")
    model: dict[int, set[int]] = {}
    for batch in batches:
        df = spark.createDataFrame(batch, "id long, v long")
        sink.upsert(df, tm, ["id"])
        per_key: dict[int, set[int]] = {}
        for k, v in batch:
            per_key.setdefault(k, set()).add(v)
        model.update(per_key)   # batch replaces key-wise
        got = {
            r["id"]: r["v"]
            for r in read_files(spark, sink.FORMAT, sink._path("t"), sink.READ_OPTIONS).collect()
        }
        assert set(got) == set(model)
        for k, v in got.items():
            assert v in model[k], (k, v, model[k])
        # collapse the model to what the sink actually kept (it becomes
        # the definitive prior state for the next batch's anti-join)
        model = {k: {v} for k, v in got.items()}


# ---------------------------------------------------------------------------
# Oracle-shared arithmetic families (r9 VERDICT #5): the derivations BOTH
# engines replay — if one degenerates (wrong digit count, collapsed band
# slice, correlated weight slices, non-bijective interleave), every
# oracle pair built on it would agree on the same wrong answer. Each test
# checks the family against an independent pure-Python model / statistical
# bound that an injected degenerate derivation fails.
# ---------------------------------------------------------------------------


def _py_md5_60bit(s: str) -> int:
    """Independent model of the portable 60-bit token hash: first 15 hex
    digits of md5 as an integer (what Spark's conv(substring(md5..)) and
    DuckDB's CAST('0x' || substr(md5..)) must both equal)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


@given(
    tokens=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=0x24F),
            min_size=1,
            max_size=24,
        ),
        min_size=1,
        max_size=24,
        unique=True,
    )
)
@settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
def test_md5_60bit_token_hash_matches_python_and_duckdb(spark, tokens):
    """The 60-bit md5 token hash (dedup._WORD_HASH_PORTABLE, the base of
    every portable MinHash/SimHash oracle pair) equals the independent
    hashlib model in BOTH engines for arbitrary unicode tokens — a wrong
    substring window, radix, or sign handling diverges immediately."""
    from pyspark.sql import functions as F

    expected = {t: _py_md5_60bit(t) for t in tokens}
    df = spark.createDataFrame([(t,) for t in tokens], "tok string")
    got_spark = {
        r["tok"]: r["h"]
        for r in df.select(
            "tok",
            F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        ).collect()
    }
    assert got_spark == expected

    con = duckdb.connect()
    con.register("toks", __import__("pandas").DataFrame({"tok": tokens}))
    got_duck = dict(
        con.sql(
            "SELECT tok, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) FROM toks"
        ).fetchall()
    )
    assert got_duck == expected


def test_lsh_band_packing_recall_on_planted_neardups(spark):
    """LSH banding (8 bands × 4 rows over 32-hash MinHash signatures):
    exact duplicates MUST always collide (identical signatures ⇒ every
    band matches); planted one-word-edit near-dups (3-shingle Jaccard
    ≈ 0.84 ⇒ per-band collision ≈ 0.5 ⇒ pair recall ≈ 1-0.5^8) must be
    recovered at ≥ 0.9 recall; and unrelated random-vocabulary docs must
    produce almost no candidate pairs. A degenerate packing (all bands
    reading the same slice) drops near-dup recall toward 0.5 and fails
    the bound; a too-wide bucket key (whole signature) fails recall; a
    collapsed one (constant) fails the false-positive cap."""
    import random

    from dbtransfer_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    rnd = random.Random(20260815)
    vocab = [f"w{i}" for i in range(5000)]
    rows, planted = [], []
    for i in range(60):
        words = rnd.sample(vocab, 30)
        near = list(words)
        near[rnd.randrange(30)] = f"x{i}"  # one-word edit, Jaccard ≈ 27/33
        rows.append((3 * i, " ".join(words)))
        rows.append((3 * i + 1, " ".join(near)))
        rows.append((3 * i + 2, " ".join(words)))  # exact dup of the base
        planted.append((3 * i, 3 * i + 1))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(sigs, "doc_id").collect()
    }
    exact = {(3 * i, 3 * i + 2) for i in range(60)}
    assert exact <= pairs, "exact duplicates must always collide"
    recall = sum(p in pairs for p in planted) / len(planted)
    assert recall >= 0.9, f"planted near-dup recall {recall}"
    # docs from different bases share ~no shingles: candidate noise is
    # bounded (distinct 30-word samples from a 5000-word vocabulary)
    cross_base = {
        (a, b) for a, b in pairs if a // 3 != b // 3
    }
    assert len(cross_base) <= 3, f"false-pair noise: {sorted(cross_base)[:5]}"


def test_bootstrap_bitslice_weights_mean_variance_independence():
    """The r9 bit-slice bootstrap weights (queries.bootstrap_mean_ci): one
    md5 per key, replica b's weight = two-bit slice of h1 (b<30) / h2
    (b≥30) mapped {0→0, 3→2, else 1}. Independent model checks the
    resampling contract: per-replica mean ≈ 1 and variance ≈ 0.5 (the
    {¼,½,¼} law), and cross-replica correlation ≈ 0 — a derivation that
    reuses a slice (perfect correlation) or mis-windows the digest
    (non-uniform nibbles) fails the bounds."""
    import hashlib
    import math

    n, reps = 4000, 32
    weights = [[0] * reps for _ in range(n)]
    for k in range(n):
        hx = hashlib.md5(str(k + 1).encode()).hexdigest()
        h1, h2 = int(hx[0:15], 16), int(hx[15:30], 16)
        for b in range(reps):
            nib = (h1 >> (2 * b) if b < 30 else h2 >> (2 * (b - 30))) & 3
            weights[k][b] = 0 if nib == 0 else (2 if nib == 3 else 1)
    cols = list(zip(*weights))
    means = [sum(c) / n for c in cols]
    variances = [sum((x - m) ** 2 for x in c) / n for c, m in zip(cols, means)]
    assert all(0.93 <= m <= 1.07 for m in means), means
    assert all(0.42 <= v <= 0.58 for v in variances), variances
    # adjacent slices + the h1/h2 seam: |corr| stays noise-sized
    for a, b in [(i, i + 1) for i in range(0, 31, 3)] + [(29, 30), (0, 31)]:
        ca, cb = cols[a], cols[b]
        ma, mb = means[a], means[b]
        cov = sum((x - ma) * (y - mb) for x, y in zip(ca, cb)) / n
        corr = cov / math.sqrt(variances[a] * variances[b])
        assert abs(corr) < 0.08, (a, b, corr)


def test_morton_interleave_bijective_roundtrip():
    """The zorder_clustering_stats Morton interleave (queries._z_interleave,
    shared text in both engines modulo div-operator spelling) is a
    BIJECTION on 8-bit × 8-bit → 16-bit: evaluated exhaustively over all
    65,536 (xb, yb) pairs in DuckDB, every code matches the independent
    bit-interleave model, the codes cover 0..65535 exactly once, and
    deinterleaving recovers (xb, yb). A dropped/duplicated term or wrong
    bit weight breaks coverage immediately."""
    from dbtransfer_spark.queries import _z_interleave

    def py_morton(xb: int, yb: int) -> int:
        z = 0
        for i in range(8):
            z |= ((xb >> i) & 1) << (2 * i + 1)
            z |= ((yb >> i) & 1) << (2 * i)
        return z

    rows = duckdb.sql(
        f"""
        SELECT xb, yb, ({_z_interleave('//')}) AS z
        FROM (SELECT unnest(range(0, 256)) AS xb),
             (SELECT unnest(range(0, 256)) AS yb)
        """
    ).fetchall()
    assert len(rows) == 65536
    seen = set()
    for xb, yb, z in rows:
        assert z == py_morton(xb, yb), (xb, yb, z)
        seen.add(z)
        back_x = sum(((z >> (2 * i + 1)) & 1) << i for i in range(8))
        back_y = sum(((z >> (2 * i)) & 1) << i for i in range(8))
        assert (back_x, back_y) == (xb, yb)
    assert seen == set(range(65536))


def test_split_double_sql_correctly_rounded():
    """_split_double_sql (queries.py) must equal Python's correctly-
    rounded int→float conversion for exact integers far past 2^64 — the
    r11 fix for DuckDB's double-rounding two-limb int128→double cast
    (caught by diffcheck at sf0.1 on correlation_matrix's Σp²). Sampled
    across every magnitude the engine can produce (up to 2^90, past any
    100-TB moment sum) plus adversarial near-boundary values: 2^k ± 1
    and odd integers just above 2^53/2^64 where naive conversions
    double-round."""
    import random

    from dbtransfer_spark.queries import _split_double_sql

    rng = random.Random(42)
    vals = [0, 1, 2**53 - 1, 2**53, 2**53 + 1, 2**64 - 1, 2**64, 2**64 + 1]
    vals += [2**k + d for k in (55, 63, 70, 80, 90) for d in (-1, 0, 1, 7)]
    vals += [rng.randrange(0, 2**90) for _ in range(500)]
    rows = duckdb.sql(
        f"SELECT v, {_split_double_sql('v')} AS d FROM (SELECT "
        "unnest([" + ",".join(f"CAST('{v}' AS DECIMAL(38,0))" for v in vals)
        + "]) AS v)"
    ).fetchall()
    assert len(rows) == len(vals)
    for v, d in rows:
        assert d == float(int(v)), (v, d, float(int(v)))


def test_q1_rounding_against_pure_python_decimal_reference(spark):
    """Independent end-to-end reference for q1's integer-cents
    reformulation (r11 ADVICE: the Spark query and the DuckDB oracle now
    share the same split-double/half-up formulation, so a bug duplicated
    on both sides would pass diffcheck by construction). This test
    recomputes every q1 output column from the raw parquet rows in pure
    Python — exact ints for the sums, Decimal HALF_UP for the roundings,
    the same IEEE split for the final doubles — sharing NO code with
    either engine, and requires bit-identical floats."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import duckdb

    sf = "/root/testdata/sf0.001"
    rows = duckdb.sql(
        f"""SELECT l_returnflag, l_linestatus, l_quantity, l_extendedprice,
                   l_discount, l_tax
            FROM read_parquet('{sf}/lineitem.parquet')
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"""
    ).fetchall()
    assert rows

    def cents(x: float) -> int:  # Spark round(double): BigDecimal HALF_UP
        return int(
            Decimal(repr(x * 100)).quantize(Decimal("1"), rounding=ROUND_HALF_UP)
        )

    groups: dict = {}
    for rf, ls, q, p, d, t in rows:
        g = groups.setdefault((rf, ls), [0, 0, 0, 0, 0, 0])
        qc, pc, dc, tc = cents(q), cents(p), cents(d), cents(t)
        g[0] += 1
        g[1] += qc
        g[2] += pc
        g[3] += dc
        g[4] += pc * (100 - dc)
        g[5] += pc * (100 - dc) * (100 + tc)

    S = 1 << 42

    def split(i: int) -> float:  # the 2^42 hi/lo exact-int -> double split
        return float(i // S) * float(S) + float(i % S)

    def r4(x: float) -> float:  # Spark round(double, 4)
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    from dbtransfer_spark.queries import q1_pricing_summary

    got = q1_pricing_summary(spark, sf).collect()
    assert len(got) == len(groups)
    for row in got:
        n, rq, rp, rd, rdp, rch = groups[(row.l_returnflag, row.l_linestatus)]
        assert row.count_order == n
        assert row.sum_qty == split(rq) / 100.0
        assert row.sum_base_price == split(rp) / 100.0
        assert row.sum_disc_price == split((rdp + 50) // 100) / 100.0
        assert row.sum_charge == split((rch + 5000) // 10000) / 100.0
        assert row.avg_qty == r4(split(rq) / 100.0 / n)
        assert row.avg_price == r4(split(rp) / 100.0 / n)
        assert row.avg_disc == r4(split(rd) / 100.0 / n)
        assert not math.isnan(row.sum_charge)


# ---------------------------------------------------------------------------
# 3. textutil fast-path builders ≡ negated-class regexp forms (r12 VERDICT #4)
# ---------------------------------------------------------------------------

_FULL_UNICODE = st.characters(
    # everything except surrogates (unencodable as UTF-8): controls, NUL,
    # combining marks, astral planes, whitespace variants, bidi marks …
    max_codepoint=0x10FFFF,
    exclude_categories=("Cs",),
)


@given(
    vals=st.lists(
        st.one_of(st.none(), st.text(alphabet=_FULL_UNICODE, max_size=40)),
        min_size=1,
        max_size=16,
    )
)
@settings(
    max_examples=200,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_textutil_equivalence_adversarial_unicode(spark, vals):
    """The 10 hot-path call sites swapped to textutil builders (r12) rest
    on the claim that positive-class extraction reproduces negated-class
    regexp_replace BYTE-IDENTICALLY on ANY input — here asserted in Spark
    itself over adversarial random unicode (controls, NULs, combining
    marks, astral planes) plus NULL, cell for cell, for every builder."""
    from pyspark.sql import functions as F

    from dbtransfer_spark.textutil import alnum, alnum_lower, normalized_text

    df = spark.createDataFrame([(v,) for v in vals], "t string")
    rows = df.select(
        normalized_text(F.col("t")).alias("fast_norm"),
        F.expr(
            "trim(regexp_replace(regexp_replace(lower(t), '[^a-z0-9 ]', ''),"
            " ' +', ' '))"
        ).alias("ref_norm"),
        alnum_lower(F.col("t")).alias("fast_al"),
        F.expr("regexp_replace(lower(t), '[^a-z0-9]', '')").alias("ref_al"),
        alnum(F.col("t")).alias("fast_an"),
        F.expr("regexp_replace(t, '[^A-Za-z0-9]', '')").alias("ref_an"),
    ).collect()
    for r in rows:
        assert r.fast_norm == r.ref_norm, (r.fast_norm, r.ref_norm)
        assert r.fast_al == r.ref_al, (r.fast_al, r.ref_al)
        assert r.fast_an == r.ref_an, (r.fast_an, r.ref_an)
