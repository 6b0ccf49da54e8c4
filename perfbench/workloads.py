"""The three workloads and the operations they are made of.

An operation is ``build`` (returns the object to act on: for registry
queries the DataFrame from ``fn(spark, sf_dir)``), ``act`` (one action: the
timed end of the operation) and ``check`` (run outside the timed region;
returns None when the output is right, else the reason it is wrong; for
ingest writes it applies the committed change to the model instead).

- ``interactive``: an analyst's ad-hoc session at sf0.1: registry queries
  where driver-side build, py4j round trips, Catalyst and the per-action
  floor dominate, including YQL and CHYT text.
- ``batch_heavy``: compute-bound registry jobs at sf0.1 (operator kernels,
  exchanges, Python/Arrow workers; build is ~10% of latency).
- ``ingest_lookup``: upserts, deletes, 100-key lookups, range aggregates
  and periodic compaction on one sorted dynamic table through ``YtClient``
  (the log-structured store in ``sources/tx_table.py``).

The seed orders every pass of the registry workloads and generates all
ingest data; the parquet fixture itself is fixed (see fixture.py).
"""

from __future__ import annotations

import hashlib
import io
import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np

INTERACTIVE = [
    "ql_group_agg",             # TPC-H Q1 shape, ~1000 py4j calls to build
    "ql_order_limit",           # distributed top-k: near the action floor
    "dedup_exact",              # hash groupBy, near the action floor
    "sim_ivf_topk",             # runs Spark jobs while being built
    "stream_match_recognize",   # build-dominated stateful pattern matching
    "chyt_global_join",         # CHYT text -> Spark SQL
    "yql_text_process",         # YQL text -> Spark SQL
]

BATCH_HEAVY = [
    "dedup_minhash_lsh",
    "curation_contamination",
    "tpcds_q67_category_top_cells",
    "op_reduce",
]

# Fixture scale shared by the registry workloads (sf0.1: 600k lineitem rows).
SF = 0.1
# Untimed passes before measuring. The first pass after set-up is 2-3x
# slower than later ones (JIT, Python workers) and the second still 10-15%
# slower than the third.
WARM_PASSES = {"interactive": 2, "batch_heavy": 2, "ingest_lookup": 2}
# Fewest measured passes per run; the window then runs whole passes until
# ``--seconds`` of operation time. Batch passes vary together with the
# host's load, so a batch run averages two of them.
MIN_PASSES = {"interactive": 1, "batch_heavy": 2, "ingest_lookup": 1}


@dataclass
class Op:
    name: str
    kind: str
    build: Callable[[], object]
    act: Callable[[object], object]
    check: Callable[[object, object], str | None]


def _collect(df):
    return df.collect()


def oracle_key(names: list[str]) -> str:
    """Cache key of the expected rows of ``names``: the fixture version and
    scale plus each query's oracle SQL, so an edited oracle is re-run."""
    from perfbench.fixture import FIXTURE_VERSION
    from ytsaurus_spark.queries import all_oracles

    oracles = all_oracles()
    h = hashlib.sha256(f"v{FIXTURE_VERSION} sf{SF:g}".encode())
    for name in names:
        h.update(f"\0{name}\0{oracles.get(name, '')}".encode())
    return h.hexdigest()[:16]


def expected_rows(sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """Each query's DuckDB oracle result over the fixture, normalized with
    the strict normalization of ``tools/check_oracle.py`` (exact ``str`` of
    every value, order-insensitive): ``name -> ((cols, rows), first 50 raw
    rows, row count)``. Queries without an oracle are left out."""
    import duckdb

    from tools import check_oracle as co
    from ytsaurus_spark.catalog import TABLE_NAMES
    from ytsaurus_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = {}
        for name in names:
            if name in oracles:
                cur = con.execute(oracles[name])
                cols = [d[0] for d in cur.description]
                raw = cur.fetchall()
                out[name] = (co.canonical_rows(cols, raw, co.strict_normalize),
                             raw[:50], len(raw))
        return out
    finally:
        con.close()


class OracleChecker:
    """Compares a registry query's rows with its oracle's, as computed by
    ``expected_rows`` (in another process, and cached), with the same
    strict normalization. Spark's rows are checked on every execution."""

    def __init__(self, expected: dict[str, tuple]) -> None:
        from tools import check_oracle

        self._co = check_oracle
        self._expected = expected

    def check(self, name: str, df, rows) -> str | None:
        if name not in self._expected:
            return "no oracle registered"
        (d_cols, d_rows), d_head, d_len = self._expected[name]
        s_raw = [tuple(r) for r in rows]
        s_cols, s_rows = self._co.canonical_rows(
            df.columns, s_raw, self._co.strict_normalize)
        if s_cols != d_cols:
            return f"column mismatch: spark={s_cols} duckdb={d_cols}"
        if len(s_rows) != d_len:
            return f"row count mismatch: spark={len(s_rows)} duckdb={d_len}"
        split = self._co.type_split(s_raw, d_head)
        if split:
            return f"DECIMAL-vs-DOUBLE split in columns {split}"
        if s_rows != d_rows:
            diff = next((a, b) for a, b in zip(s_rows, d_rows) if a != b)
            return f"value mismatch, first differing rows: {diff}"
        return None


class RegistryWorkload:
    """A fixed list of registry queries; each pass runs all of them once in
    a seeded order. Names are resolved against the registry up front."""

    def __init__(self, names: list[str], sf_dir: str, rng,
                 checker: OracleChecker) -> None:
        from ytsaurus_spark.queries import all_queries

        self.sf_dir = sf_dir
        self.rng = rng
        self.queries = all_queries()
        self.registry_size = len(self.queries)
        self.names = [n for n in names if n in self.queries]
        self.missing = [n for n in names if n not in self.queries]
        self.checker = checker

    def register(self, spark) -> None:
        from ytsaurus_spark.catalog import load_tables

        self.spark = spark
        load_tables(spark, self.sf_dir)

    def _op(self, name: str) -> Op:
        fn = self.queries[name]
        return Op(
            name, "query",
            build=lambda: fn(self.spark, self.sf_dir),
            act=_collect,
            check=lambda df, rows: self.checker.check(name, df, rows),
        )

    def one_pass(self) -> Iterator[Op]:
        for i in self.rng.permutation(len(self.names)):
            yield self._op(self.names[i])

class IngestWorkload:
    """Writes beside reads on one sorted dynamic table ``//bench/kv``
    (``k`` int64 key, ``v`` int64, ``tag`` string) under a fresh Cypress
    root. A pass is one compaction cycle: ``COMMITS`` commits (upsert
    batches and one delete batch, in seeded order), a 100-key lookup after
    each commit (~70% hits), one ``select_rows`` range aggregate, then
    ``compact()``. Every lookup and aggregate is checked against an
    in-memory model of the table."""

    TABLE = "//bench/kv"
    SEED_ROWS = 50_000
    KEY_SPACE = 100_000
    UPSERT_ROWS = 2_000
    DELETE_ROWS = 500
    LOOKUP_KEYS = 100
    COMMITS = 4
    TAGS = np.array(["red", "green", "blue", "amber", "violet"], dtype=object)

    def __init__(self, root: str, rng) -> None:
        self.root = root
        self.rng = rng
        self.registry_size = None
        self.missing: list[str] = []
        keys = np.sort(rng.choice(self.KEY_SPACE, self.SEED_ROWS, replace=False))
        self.seed_rows = self._rows(keys)

    def _rows(self, keys: np.ndarray) -> dict[int, tuple[int, str]]:
        vals = self.rng.integers(0, 1_000_000, len(keys))
        tags = self.TAGS[self.rng.integers(0, len(self.TAGS), len(keys))]
        return {int(k): (int(v), str(t)) for k, v, t in zip(keys, vals, tags)}

    def _frame(self, rows: dict[int, tuple[int, str]]):
        import pandas as pd

        ks = sorted(rows)
        pdf = pd.DataFrame({
            "k": np.array(ks, dtype=np.int64),
            "v": np.array([rows[k][0] for k in ks], dtype=np.int64),
            "tag": [rows[k][1] for k in ks],
        })
        return self.spark.createDataFrame(pdf, "k long, v long, tag string")

    def _keys_frame(self, keys):
        import pandas as pd

        return self.spark.createDataFrame(
            pd.DataFrame({"k": np.asarray(keys, dtype=np.int64)}), "k long")

    def register(self, spark) -> None:
        """Fresh Cypress root, table created and seeded (one base segment)."""
        from ytsaurus_spark.client import YtClient
        from ytsaurus_spark.sources.tx_table import LogTxTable

        self.spark = spark
        cypress = os.path.join(self.root, "cypress")
        self.client = YtClient(cypress, spark)
        self.client.create("table", self.TABLE, attributes={
            "dynamic": True,
            "schema": [
                {"name": "k", "type": "int64", "sort_order": "ascending"},
                {"name": "v", "type": "int64"},
                {"name": "tag", "type": "string"},
            ],
        })
        self.table_dir = os.path.join(cypress, self.TABLE[2:])  # //a/b -> <root>/a/b
        self.store = LogTxTable(spark, self.table_dir, ["k"])
        self.client.insert_rows(self.TABLE, self._frame(self.seed_rows))
        self.model = dict(self.seed_rows)
        self.compactions = 0
        self.space_amplification = 0.0

    # -- storage-layer readings (outside timed regions) ----------------

    def segments_live(self) -> int:
        """Segments a read must merge: newest base plus the deltas after."""
        with open(os.path.join(self.table_dir, "_log.json")) as f:
            segs = json.load(f)["segments"]
        last_base = max(i for i, s in enumerate(segs) if s["kind"] == "base")
        return len(segs) - last_base

    def segment_files(self, version: int) -> tuple[int, int]:
        """(bytes, parquet files) of segment ``s{version}``."""
        d = os.path.join(self.table_dir, f"s{version}")
        names = [n for n in os.listdir(d) if n.endswith(".parquet")]
        return sum(os.path.getsize(os.path.join(d, n)) for n in names), len(names)

    def bytes_per_user_byte(self) -> float:
        """Bytes on disk under the table over the snappy parquet size of
        the live rows alone."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        on_disk = sum(os.path.getsize(os.path.join(dp, n))
                      for dp, _, names in os.walk(self.table_dir) for n in names)
        ks = sorted(self.model)
        live = pa.table({
            "k": pa.array(ks, pa.int64()),
            "v": pa.array([self.model[k][0] for k in ks], pa.int64()),
            "tag": pa.array([self.model[k][1] for k in ks], pa.string()),
        })
        buf = io.BytesIO()
        pq.write_table(live, buf, compression="snappy")
        return on_disk / len(buf.getvalue())

    def observe(self, op: Op, result, layers: dict) -> None:
        """Storage-layer readings after a traced operation."""
        if op.kind in ("insert", "delete"):
            b, n = self.segment_files(self.store.current_version())
            layers["sources.commit_bytes_written"] = b
            layers["sources.commit_files_written"] = n
        elif op.kind == "compact":
            b, n = self.segment_files(result)
            layers["sources.compact_bytes_written"] = b
            layers["sources.compact_files_written"] = n
            layers["sources.segments_after_compact"] = self.segments_live()
        elif op.kind == "lookup":
            layers["sources.segments_live"] = self.segments_live()
            layers["sources.files_read_per_lookup"] = layers.get("operators.scan_files", 0)

    # -- operations ----------------------------------------------------

    def _upsert(self) -> Op:
        keys = self.rng.choice(self.KEY_SPACE, self.UPSERT_ROWS, replace=False)
        rows = self._rows(keys)

        def applied(_df, _res):
            self.model.update(rows)

        return Op("insert_rows", "insert", build=lambda: self._frame(rows),
                  act=lambda df: self.client.insert_rows(self.TABLE, df),
                  check=applied)

    def _delete(self) -> Op:
        live = np.fromiter(self.model, dtype=np.int64, count=len(self.model))
        keys = self.rng.choice(live, self.DELETE_ROWS, replace=False)

        def applied(_df, _res):
            for k in keys:
                self.model.pop(int(k), None)

        return Op("delete_rows", "delete", build=lambda: self._keys_frame(keys),
                  act=lambda df: self.client.delete_rows(self.TABLE, df),
                  check=applied)

    def _lookup(self) -> Op:
        live = np.fromiter(self.model, dtype=np.int64, count=len(self.model))
        n_hit = int(self.LOOKUP_KEYS * 0.7)
        hits = self.rng.choice(live, n_hit, replace=False)
        misses: set[int] = set()
        while len(misses) < self.LOOKUP_KEYS - n_hit:
            k = int(self.rng.integers(0, self.KEY_SPACE))
            if k not in self.model:
                misses.add(k)
        keys = np.concatenate([hits, np.array(sorted(misses), dtype=np.int64)])
        expected = {int(k): self.model[int(k)] for k in hits}

        def check(_df, rows):
            got = {r["k"]: (r["v"], r["tag"]) for r in rows}
            if len(got) != len(rows):
                return f"duplicate keys in lookup result ({len(rows)} rows)"
            if got != expected:
                wrong = sorted(set(got.items()) ^ set(expected.items()))[:3]
                return f"lookup mismatch: {len(got)} rows vs {len(expected)} expected; {wrong}"
            return None

        return Op("lookup_rows", "lookup",
                  build=lambda: self.client.lookup_rows(self.TABLE, self._keys_frame(keys)),
                  act=_collect, check=check)

    def _select(self) -> Op:
        lo = int(self.rng.integers(0, self.KEY_SPACE * 4 // 5))
        hi = lo + self.KEY_SPACE // 5
        query = (f"sum(v) AS s, count(*) AS n FROM [{self.TABLE}] "
                 f"WHERE k >= {lo} AND k < {hi}")

        def check(_df, rows):
            vals = [v for k, (v, _) in self.model.items() if lo <= k < hi]
            want = (sum(vals) if vals else None, len(vals))
            got = (rows[0]["s"], rows[0]["n"]) if len(rows) == 1 else rows
            return None if got == want else f"select_rows {got} != model {want}"

        return Op("select_rows", "select", build=lambda: self.client.select_rows(query),
                  act=_collect, check=check)

    def _compact(self) -> Op:
        def after(_store, _version):
            # Space is read at one fixed point, after the second compaction
            # (the end of the second pass), so it does not depend on how
            # many passes fit in the run.
            self.compactions += 1
            if self.compactions == 2:
                self.space_amplification = self.bytes_per_user_byte()

        return Op("compact", "compact", build=lambda: self.store,
                  act=lambda store: store.compact(), check=after)

    def one_pass(self) -> Iterator[Op]:
        writes = ["u"] * (self.COMMITS - 1) + ["d"]
        for w in self.rng.permutation(writes):
            yield self._upsert() if w == "u" else self._delete()
            yield self._lookup()
        yield self._select()
        yield self._compact()
