"""Traffic statistics of fixture-schema tables, side by side, to compare the
inputs ``datagen.py`` draws with the shipped fixtures.

    python3 perfbench/fixture_stats.py --seed 1 --sf 0.01 [<fixture dir> ...]

Each column is a directory of ``<table>.parquet`` files; ``--seed`` and
``--sf`` add a column of generated tables (written to a temporary directory
that is removed afterwards). Prints a markdown table.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
from collections import Counter

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402


def _read(d: str, table: str):
    path = os.path.join(d, f"{table}.parquet")
    return pq.read_table(path).to_pandas() if os.path.exists(path) else None


def stats(d: str) -> dict[str, str]:
    out = {}
    for t in datagen.TABLES:
        path = os.path.join(d, f"{t}.parquet")
        out[f"{t} rows"] = str(pq.ParquetFile(path).metadata.num_rows) if os.path.exists(path) else "—"
    li = _read(d, "lineitem")
    if li is not None:
        dup = li.duplicated(["l_orderkey", "l_linenumber"], keep=False).mean()
        per_order = li.l_orderkey.value_counts()
        out["lineitem rows in a repeated (l_orderkey, l_linenumber)"] = f"{dup:.3f}"
        out["lineitem lines per order: mean / max"] = f"{per_order.mean():.2f} / {per_order.max()}"
    orders = _read(d, "orders")
    if orders is not None:
        per_cust = orders.o_custkey.value_counts()
        out["orders per customer: max ÷ mean"] = f"{per_cust.max() / per_cust.mean():.2f}"
    events = _read(d, "events")
    if events is not None:
        per_user = events.user_id.value_counts()
        out["events: users / max ÷ mean per user"] = (
            f"{len(per_user)} / {per_user.max() / per_user.mean():.2f}"
        )
    docs = _read(d, "documents")
    if docs is not None:
        words = docs.text.str.split()
        out["documents: vocabulary / words per doc"] = (
            f"{len(Counter(w for ws in words for w in ws))} / {words.str.len().mean():.1f}"
        )
        out["documents: near-duplicate share (an earlier text + ' dup')"] = (
            f"{docs.text.str.endswith(' dup').mean():.3f}"
        )
        out["documents: exact duplicate text share"] = f"{docs.text.duplicated().mean():.3f}"
    emb = _read(d, "embeddings")
    if emb is not None:
        out["embeddings: dimension / labels"] = f"{len(emb.embedding.iloc[0])} / {emb.label.nunique()}"
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dirs", nargs="*", help="directories of <table>.parquet files")
    ap.add_argument("--seed", type=int, help="add a column of tables generated from this seed")
    ap.add_argument("--sf", type=float, default=0.01, help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    columns = [(d, stats(d)) for d in args.dirs]
    if args.seed is not None:
        tmp = tempfile.mkdtemp(prefix="fixture_stats-")
        try:
            datagen.write_tables(tmp, args.seed, args.sf)
            columns.append((f"datagen seed {args.seed} sf{args.sf:g}", stats(tmp)))
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if not columns:
        ap.error("give a directory, --seed, or both")
    keys = list(dict.fromkeys(k for _, s in columns for k in s))
    print("| statistic | " + " | ".join(name for name, _ in columns) + " |")
    print("|---|" + "---|" * len(columns))
    for k in keys:
        print(f"| {k} | " + " | ".join(s.get(k, "—") for _, s in columns) + " |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
