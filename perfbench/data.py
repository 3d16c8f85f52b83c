"""Seeded inputs for the benchmark: a "live database" of parquet files that
the REPL workload edits between iterations, and the static corpus the
dedup/ANN workload reads.

Everything here runs outside Spark (numpy + pyarrow), so the program under
test only ever sees the generated files.  The same seed gives the same
files and the same sequence of edits.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table: the sf0.001 shape of the fixture's REPL tables (a
# developer's test database, where per-table fixed costs dominate an
# iteration) and the fixture's 500-row corpus.  ``orders`` is the number of
# lineitem's parent order keys.
ROWS = {"customer": 150, "orders": 1500, "lineitem": 6000, "events": 1000,
        "documents": 500, "embeddings": 500}

# The tables the REPL workload snapshots.  Keys follow the program's own
# fixture catalog (``dbdiff_spark.catalog.TESTDATA_KEYS``); ``events`` has
# no declared key, so the diff keys it on all columns and the report shows
# an edited events row as DELETED old row + INSERTED new row.
REPL_TABLES = ["customer", "lineitem", "events"]
KEYS = {
    "customer": ["c_custkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],  # row identity for the check, not a declared key
}
NO_PK = {"events"}
# deletes, updates, inserts per table per iteration
EDITS_PER_TABLE = (6, 8, 6)

SCHEMAS = {
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", pa.timestamp("us"))]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group "
          "big sort query fast the").split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_DAY_US = 86_400_000_000
_EPOCH_1992_US = 694_224_000_000_000
_EPOCH_2024_US = 1_704_067_200_000_000


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _initial_tables(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pd.DataFrame]:
    n = rows["customer"]
    customer = pd.DataFrame({
        "c_custkey": np.arange(1, n + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n),
    })
    # lineitem: 1-7 lines per order, in order-key order, cut at the row count
    per_order = rng.integers(1, 8, rows["orders"])
    okeys = np.repeat(np.arange(1, rows["orders"] + 1), per_order)[: rows["lineitem"]]
    lnums = np.concatenate([np.arange(1, k + 1) for k in per_order])[: len(okeys)]
    n = len(okeys)
    lineitem = pd.DataFrame({
        "l_orderkey": okeys.astype(np.int64),
        "l_partkey": rng.integers(1, 2001, n).astype(np.int64),
        "l_suppkey": rng.integers(1, 101, n).astype(np.int64),
        "l_linenumber": lnums.astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 100000.0),
        "l_discount": np.round(rng.integers(0, 11, n) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pd.to_datetime(_EPOCH_1992_US + rng.integers(0, 2500, n) * _DAY_US, unit="us"),
    })
    n = rows["events"]
    events = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime(_EPOCH_2024_US + np.cumsum(rng.integers(1, 240_000_000, n)), unit="us"),
        "user_id": rng.integers(0, 200, n).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n),
        "value": _money(rng, n, 0.0, 50.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    return {"customer": customer, "lineitem": lineitem, "events": events}


def _write(df: pd.DataFrame, table: str, path: Path) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=SCHEMAS[table], preserve_index=False), path)


@dataclass
class TableTruth:
    """What the diff of one table must report for one iteration."""

    inserted: set[tuple[str, ...]] = field(default_factory=set)
    deleted: set[tuple[str, ...]] = field(default_factory=set)
    updated: dict[tuple[str, ...], frozenset[str]] = field(default_factory=dict)


def _changed_value(value, g: int):
    """A value that differs from ``value`` in its string rendering too."""
    if value is None or (isinstance(value, float) and np.isnan(value)) or value is pd.NaT:
        return None  # caller re-fills a NULL with a fresh value
    if isinstance(value, str):
        return f"{value}~g{g}"
    if isinstance(value, pd.Timestamp):
        return value + pd.Timedelta(days=1)
    if isinstance(value, (float, np.floating)):
        return round(float(value) + 1.25, 2)
    return value + 1


# replacement values for a NULL, by column type; only these types are NULLed
_FRESH = {"string": "refilled", "double": 7.5, "timestamp[us]": pd.Timestamp("2001-01-01")}


class LiveDatabase:
    """The parquet directory a REPL user edits between Enter presses.

    ``edit(g)`` applies one iteration's seeded inserts, deletes, updates
    and NULL-outs to every table, rewrites the files, and returns the
    ground truth the report must show.  The number of changed rows is the
    same on every iteration and seed; the seed picks the rows, columns and
    values."""

    def __init__(self, directory: Path, seed: int):
        self.dir = Path(directory)
        self.dir.mkdir(parents=True, exist_ok=True)
        self.rng = np.random.default_rng([seed, 1])
        self.tables = _initial_tables(np.random.default_rng([seed, 0]), ROWS)
        self.next_key = {t: int(df[KEYS[t][0]].max()) + 1 for t, df in self.tables.items()}
        for t, df in self.tables.items():
            _write(df, t, self.dir / f"{t}.parquet")

    def input_bytes(self) -> int:
        return sum(f.stat().st_size for f in self.dir.iterdir())

    def edit(self, g: int) -> dict[str, TableTruth]:
        rng = self.rng
        truth = {t: TableTruth() for t in REPL_TABLES}
        for t in REPL_TABLES:
            df, key, tt = self.tables[t], KEYS[t], truth[t]
            n_del, n_upd, n_ins = EDITS_PER_TABLE
            picked = rng.choice(len(df), n_del + n_upd, replace=False)
            upd_idx, del_idx = picked[:n_upd], picked[n_upd:]
            value_cols = [c for c in df.columns if c not in key]
            df = df.copy()
            for i in upd_idx:
                cols = rng.choice(value_cols, int(rng.integers(1, 3)), replace=False)
                for c in cols:
                    ftype = str(SCHEMAS[t].field(c).type)
                    new = _changed_value(df.at[df.index[i], c], g)
                    if new is None:
                        new = _FRESH[ftype]
                    elif ftype in _FRESH and rng.random() < 0.25:
                        new = None  # NULL-out: renders <NULL>, compares null-safely
                    df.at[df.index[i], c] = new
                kt = _key(df, i, key)
                if t in NO_PK:
                    tt.deleted.add(kt)
                    tt.inserted.add(kt)
                else:
                    tt.updated[kt] = frozenset(cols)
            for i in del_idx:
                tt.deleted.add(_key(df, i, key))
            df = df.drop(df.index[del_idx])
            new_rows = self._new_rows(t, n_ins, g)
            for i in range(len(new_rows)):
                tt.inserted.add(_key(new_rows, i, key))
            self.tables[t] = pd.concat([df, new_rows], ignore_index=True)
            _write(self.tables[t], t, self.dir / f"{t}.parquet")
        return truth

    def _new_rows(self, t: str, n: int, g: int) -> pd.DataFrame:
        """``n`` rows with fresh keys, values copied from random rows."""
        df = self.tables[t]
        rows = df.iloc[self.rng.choice(len(df), n, replace=True)].copy().reset_index(drop=True)
        k0 = self.next_key[t]
        self.next_key[t] += n
        rows[KEYS[t][0]] = np.arange(k0, k0 + n, dtype=np.int64)
        if t == "lineitem":
            rows["l_linenumber"] = np.int32(1)
        if t == "customer":
            rows["c_name"] = [f"new#{g}-{k}" for k in range(k0, k0 + n)]
        return rows


def _key(df: pd.DataFrame, i: int, key: list[str]) -> tuple[str, ...]:
    # integer keys render in the report exactly as str(int)
    return tuple(str(int(df.at[df.index[i], k])) for k in key)


def write_corpus(directory: Path, seed: int) -> int:
    """Write the ``documents`` and ``embeddings`` tables the dedup and ANN
    entries read; returns their total bytes.

    Documents are 10-99 words over the 30-word vocabulary of the fixture
    corpus, about 5% carrying a trailing ``dup`` token; embeddings are
    64-d unit vectors drawn around ten label centroids."""
    directory = Path(directory)
    directory.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = ROWS["documents"]
    texts = []
    for _ in range(n):
        words = list(rng.choice(_WORDS, int(rng.integers(10, 100))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(list(rng.choice(_LANGS, n))),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    pq.write_table(docs, directory / "documents.parquet")
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    pq.write_table(emb, directory / "embeddings.parquet")
    return sum(f.stat().st_size for f in directory.iterdir())
