"""Workload ``lake_sql``: SQL writes beside reads on one ManifestTable.

Why: it drives the manifest commit protocol and the SQL front end
(``manifest_sql``) with the reads an analyst runs between the writes,
so a commit-path gain that costs reads shows here.

Inputs (all from the seed): a lineitem table of about 60k rows
(15,000 orders of 1-7 lines), keyed on (l_orderkey, l_linenumber),
partitioned by l_returnflag, with an int ``version`` precombine column.
Each cycle is a fixed mix of six reads (two GROUP BY aggregates, two
point lookups, a ``VERSION AS OF`` read and ``read_cdc`` of the last two
commits) and three writes (a 20-row INSERT VALUES, a DELETE over a key
range and a 20-row canonical upsert MERGE); the keys, ranges and values
are drawn from the seed. Each write statement costs seconds (about 20
Spark jobs), so UPDATE and the conditional MERGE are left out to keep a
run inside its time budget. The gate replays the same writes in DuckDB
(which has no MERGE: the replay uses INSERT ... ON CONFLICT DO UPDATE)
and compares the final tables row for row.
"""

from __future__ import annotations

import datetime
import os
import random

from perfbench.common import GateError, Op

TABLE = "lake_lineitem"
KEYS = ("l_orderkey", "l_linenumber")
N_ORDERS = 15_000
COLUMNS = (
    ("l_orderkey", "BIGINT", "bigint"), ("l_linenumber", "INTEGER", "int"),
    ("l_partkey", "BIGINT", "bigint"), ("l_suppkey", "BIGINT", "bigint"),
    ("l_quantity", "DOUBLE", "double"), ("l_extendedprice", "DOUBLE", "double"),
    ("l_discount", "DOUBLE", "double"), ("l_tax", "DOUBLE", "double"),
    ("l_returnflag", "VARCHAR", "string"), ("l_linestatus", "VARCHAR", "string"),
    ("l_shipdate", "DATE", "date"), ("version", "INTEGER", "int"),
)
NAMES = [c[0] for c in COLUMNS]
SPARK_SCHEMA = ", ".join(f"{n} {t}" for n, _, t in COLUMNS)
_DAY0 = datetime.date(1995, 1, 2)
_UPSERT_SET = ", ".join(f"{n} = EXCLUDED.{n}" for n in NAMES if n not in KEYS)

AGG_SQL = (f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
           f"sum(version) AS versions FROM {TABLE} GROUP BY l_returnflag, l_linestatus")


def write_lineitem(path: str, seed: int) -> list[str]:
    """Seeded lineitem parquet. Returns the l_returnflag of line 1 of
    every order (every order has a line 1)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    table = pa.table({
        "l_orderkey": np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines),
        "l_linenumber": (np.arange(n) - starts + 1).astype(np.int32),
        "l_partkey": rng.integers(0, 2_000, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, 100, n, dtype=np.int64),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.integers(90_000, 210_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": pa.array(rng.integers(9_497, 9_497 + 2_499, n).astype(np.int32),
                               pa.date32()),
        "version": np.ones(n, dtype=np.int32),
    })
    pq.write_table(table, path)
    return table.column("l_returnflag").take(np.cumsum(lines) - lines).to_pylist()


def _row(rng: random.Random, orderkey: int, linenumber: int, version: int,
         flag: str | None = None) -> tuple:
    qty = float(rng.randrange(1, 51))
    returnflag = rng.choice("ANR")
    return (orderkey, linenumber, rng.randrange(2_000), rng.randrange(100), qty,
            round(qty * rng.randrange(90_000, 210_000) / 100.0, 2),
            rng.randrange(11) / 100.0, rng.randrange(9) / 100.0,
            flag or returnflag, rng.choice("FO"),
            _DAY0 + datetime.timedelta(days=rng.randrange(2_499)), version)


def _literal(v) -> str:
    if isinstance(v, str):
        return f"'{v}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    return repr(v)


class Replay:
    """The DuckDB side of the gate: the same writes, in order."""

    def __init__(self, source_parquet: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        cols = ", ".join(f"{n} {t}" for n, t, _ in COLUMNS)
        self.con.execute(f"CREATE TABLE t ({cols}, PRIMARY KEY ({', '.join(KEYS)}))")
        self.con.execute(f"INSERT INTO t SELECT {', '.join(NAMES)} "
                         f"FROM read_parquet('{source_parquet}')")
        self.log: list[tuple] = []

    def record(self, kind: str, payload) -> None:
        self.log.append((kind, payload))

    def _source(self, rows: list[tuple]) -> None:
        import pyarrow as pa

        data = {n: [r[i] for r in rows] for i, n in enumerate(NAMES)}
        self.con.register("src_arrow", pa.table(data))
        self.con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM src_arrow")
        self.con.unregister("src_arrow")

    def apply(self) -> None:
        for kind, payload in self.log:
            if kind == "sql":
                self.con.execute(payload.replace(TABLE, "t"))
            elif kind == "merge_upsert":
                self._source(payload)
                self.con.execute(f"INSERT INTO t SELECT * FROM src ON CONFLICT "
                                 f"({', '.join(KEYS)}) DO UPDATE SET {_UPSERT_SET}")
        self.log.clear()

    def rows(self) -> list[tuple]:
        return self.con.execute(f"SELECT {', '.join(NAMES)} FROM t").fetchall()


def check_rows(got: list[tuple], want: list[tuple]) -> None:
    """Gate: the final table equals the replay, row for row."""
    got_s, want_s = sorted(got), sorted(want)
    if len(got_s) != len(want_s):
        raise GateError(f"row count {len(got_s)} differs from the replay's {len(want_s)}")
    for a, b in zip(got_s, want_s):
        if a != b:
            raise GateError(f"first differing row: table {a} vs replay {b}")


class LakeSql:
    name = "lake_sql"

    # One cycle's length on a 4-core box: ``--seconds`` / cycle_s cycles run.
    cycle_s = 7.3

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        from dca_manager_spark.io import manifest as manifest_mod
        from dca_manager_spark.io.manifest import ManifestTable

        self._manifest = manifest_mod
        root = os.path.join(self.ctx.state_dir, "lake")
        os.makedirs(root)
        source = os.path.join(root, "lineitem.parquet")
        self.line1_flags = write_lineitem(source, self.ctx.seed)
        self.table = ManifestTable(self.spark, os.path.join(root, "table"), keys=KEYS,
                                   precombine="version", partition_by=("l_returnflag",))
        self.table.write(self.spark.read.parquet(source).select(*NAMES), "bulk_insert")
        self.table.register(TABLE)
        self.replay = Replay(source)
        self.table_rows = self.replay.con.execute("SELECT count(*) FROM t").fetchone()[0]
        self.rng = random.Random(f"{self.ctx.seed}:stream")
        self.next_key = N_ORDERS
        self.cycles = 0

    def sizes(self) -> dict:
        return {"rows_at_start": self.table_rows, "orders": N_ORDERS,
                "partitions": 3, "writes_per_cycle": 3, "reads_per_cycle": 6}

    # -- traffic ----------------------------------------------------------
    def _sql(self, text: str):
        return self._manifest.manifest_sql(self.spark, text)

    def _write(self, label: str, text: str, replay: tuple) -> Op:
        def run():
            self._sql(text).collect()
            self.replay.record(*replay)

        def before():
            return (len(self.table.commits()), self._files(), self.table.rebase_count)

        def info(pre):
            commits = len(self.table.commits()) - pre[0]
            added = len(self._files() - pre[1])
            return {"commits": commits, "files_per_commit": added / max(1, commits),
                    "rebase_count": self.table.rebase_count - pre[2]}

        return Op("write", label, run, info=info, before=before)

    def _files(self) -> set[str]:
        return {os.path.join(r, f) for r, _d, fs in os.walk(self.table.path)
                for f in fs if f.endswith(".parquet")}

    def _key_range(self, width: int) -> tuple[int, int]:
        lo = self.rng.randrange(N_ORDERS - width)
        return lo, lo + width - 1

    def _merge_source(self) -> list[tuple]:
        """10 rows on line 1 of existing orders, 10 on new orders. An
        existing key keeps its partition value: record identity is
        partition-scoped (Hudi parity), so a row that changed partition
        would be a second record by design, not an update."""
        version = 1_000 + self.cycles
        existing = {self.rng.randrange(N_ORDERS) for _ in range(10)}
        rows = [_row(self.rng, k, 1, version, self.line1_flags[k]) for k in sorted(existing)]
        rows += [_row(self.rng, self.next_key + i, 1, version) for i in range(10)]
        self.next_key += 10
        self.spark.createDataFrame(rows, SPARK_SCHEMA).createOrReplaceTempView("src_upsert")
        return rows

    def _point_read(self) -> Op:
        key = self.rng.randrange(N_ORDERS)
        return Op("read", "point", lambda: self._sql(
            f"SELECT * FROM {TABLE} WHERE l_orderkey = {key}"))

    def cycle(self):
        """One cycle's ops, created one at a time so that any input they
        need (a source view, the current commit id) is made untimed."""
        rng = self.rng
        self.cycles += 1
        yield Op("read", "aggregate", lambda: self._sql(AGG_SQL))
        yield self._point_read()

        rows = [_row(rng, self.next_key + i // 4, i % 4 + 1, 1) for i in range(20)]
        self.next_key += 5
        text = (f"INSERT INTO {TABLE} VALUES "
                + ", ".join("(" + ", ".join(_literal(v) for v in r) + ")" for r in rows))
        yield self._write("insert", text, ("sql", text))

        yield self._point_read()

        commits = self.table.commits()
        version = commits[-1 - rng.randrange(min(3, len(commits)))]
        yield Op("read", "version_as_of", lambda: self._sql(
            f"SELECT count(*) AS n, sum(l_quantity) AS qty FROM {TABLE} "
            f"VERSION AS OF {version}"))

        lo, hi = self._key_range(5)
        text = f"DELETE FROM {TABLE} WHERE l_orderkey BETWEEN {lo} AND {hi}"
        yield self._write("delete", text, ("sql", text))

        since = self.table.commits()[-3]
        yield Op("read", "cdc", lambda: self.table.read_cdc(since)
                 .groupBy("_change_type").count())

        yield Op("read", "aggregate", lambda: self._sql(AGG_SQL))

        source = self._merge_source()
        yield self._write("merge_upsert", f"""
            MERGE INTO {TABLE} AS t USING src_upsert AS s
            ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *""", ("merge_upsert", source))

    # -- checks -----------------------------------------------------------
    def check(self, last_reads: dict) -> None:
        self.replay.apply()
        frame = self.spark.sql(f"SELECT {', '.join(NAMES)} FROM {TABLE}").toPandas()
        got = list(frame.itertuples(index=False, name=None))
        self.live_rows = len(got)
        check_rows(got, self.replay.rows())

    def stored_bytes_per_row(self) -> float:
        live = self.spark.table(TABLE).inputFiles()
        size = sum(os.path.getsize(f.removeprefix("file:")) for f in live)
        return size / self.live_rows
