"""Idempotent upsert sinks for foreachBatch — the reference's delivery
contract (effectively-once into a keyed serving table).

Reference implementation (spark_processor/processor.py:116-172): skip an
empty micro-batch (:117-119), write the batch to a fresh JDBC staging
table, then driver-side ``INSERT ... ON CONFLICT (keys) DO UPDATE`` +
``DROP TABLE`` via psycopg2, with the staging name embedding epoch_id so
retried batches don't collide. Only the batch's rows are written.

Both sinks here run the micro-batch plan exactly once per call. For the
candle query that plan is the whole trigger (source read, state store
update and commit, watermark eviction), so an ``isEmpty()`` guard in front
of an unpersisted write would run it twice.

- ``ParquetUpsertSink`` is the file-based twin used in tests and the
  benchmark. A call collects its batch to the driver as one Arrow table
  (the plan's one execution) and writes it with pyarrow as that epoch's
  one delta file, named by the epoch and committed by one rename, so a
  retried epoch replaces its own file; a table of 0 rows returns before
  any file exists (the empty-batch guard). ``read`` merges last-wins by
  key (``merge_last_wins``), and deltas fold into one base once they hold
  as many rows as the base: merged by the same rule with pyarrow on the
  driver, so a call runs no Spark job but its batch's, and in place, the
  base renamed in before the files it covers are deleted.
- ``JdbcUpsertSink`` reproduces staging + merge for any JDBC database
  (server-side MERGE, driver-side connection) — import-gated since test
  containers carry no JDBC driver or server. The batch is persisted across
  the guard and the staging upload.

Both are plain callables usable as ``foreachBatch(sink)``.
"""

from __future__ import annotations

import os
import re
from glob import escape, glob
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Column the parquet sink stores each row's epoch in (``read`` drops it).
EPOCH_COL = "__epoch"
#: ``delta-{epoch}.parquet`` or ``base-{epoch}-{suffix}.parquet``: the
#: table's data files. A fold's suffix is the epoch of the call that folded;
#: a base the Spark fold wrote before it carries a Spark part name there.
_DATA_FILE = re.compile(r"(base|delta)-(\d+)(?:-.+)?\.parquet")
#: The footer key Spark reads a parquet file's row schema from.
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def merge_last_wins(rows: DataFrame, *, keys: list[str], order_col: str) -> DataFrame:
    """Upsert semantics as a pure transform over the table's files: one row
    per key, highest ``order_col`` wins, and at equal order the later
    ``EPOCH_COL`` wins."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc(), F.col(EPOCH_COL).desc())
    return rows.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


class _DataFile(NamedTuple):
    kind: str  # "base" or "delta"
    epoch: int
    path: str


class ParquetUpsertSink:
    """foreachBatch writer maintaining a keyed parquet table with last-wins
    upserts — the test twin of the reference's Postgres upsert.

    Layout: flat files in ``path``, one ``delta-{epoch}.parquet`` per
    non-empty epoch and at most one base, ``base-{epoch}-{call's
    epoch}.parquet``, each row carrying its epoch in ``EPOCH_COL``.

    A call collects the batch once with ``toArrow()``. A batch of 0 rows
    returns there, with no file written (the empty-batch guard). Otherwise
    pyarrow writes it inside the table as the hidden
    ``.delta-{epoch}.parquet.tmp``, with Spark's row schema in the footer
    so a schema-inferring read gets the batch's types, and
    ``os.replace`` renames it to ``delta-{epoch}.parquet``: the commit
    point. A re-delivered epoch replaces its own file by name, the
    reference's epoch-named staging table in file form. A crash before the
    rename leaves only the hidden file, which Spark's reader skips (a
    leading dot) and the next call deletes.

    Driver memory is bounded by one batch. For the candle query that is
    the update-mode output, at most the state rows, which the watermark
    bounds (lateness x symbols x windows); the reference sends every batch
    to one Postgres the same way. A sink fed unbounded batches should be
    the JDBC one.

    Once the deltas older than the call's epoch hold as many rows as the
    base (footer row counts), they are merged with the base into a new
    base, so a merge-on-read scans under twice the base's rows plus the
    newest batch. The newest epoch stays a delta, so its re-delivery
    still finds its own file. Epoch ids must not go backwards: one
    checkpoint per table.

    The fold merges on the driver with pyarrow, by ``merge_last_wins``'
    rule, so the batch's ``toArrow()`` is a call's one Spark job. It holds
    the folded files' rows about three times over while it sorts: on
    candle-shaped rows (a base plus ten 900-row deltas, 4 cores) it took
    0.55 s at 330 MB peak RSS for 300k rows and 3.8 s at 1.45 GB for 3M,
    where the Spark fold took 1.9 s and 6.0 s. The base grows with the
    table's history, so the history bounds the driver's memory: a table
    meant to hold more should be the JDBC one.

    Crash safety: every file is rows that ``read`` merges last-wins, so a
    file whose rows another file covers changes nothing, present or gone.
    A commit only adds a delta by rename. A fold only adds a covering
    base: pyarrow writes it as a hidden ``.tmp`` file in the table, which
    Spark's reader skips and the next call deletes, and one rename moves
    it in. Then the fold deletes the files it covered. A crash at any step
    leaves the merged read as it was; the next fold covers and deletes
    what is left over. The fold trigger counts only the newest base
    epoch's files as the base, so an older base's leftovers count as rows
    to fold and bring that fold on. A re-delivered fold after a crash
    among the deletes can name its base as the crashed one did; the
    rename replaces that file and the deletes leave it out.
    """

    def __init__(self, path: str, *, keys: list[str], order_col: str):
        self.path = path
        self.keys = keys
        self.order_col = order_col
        # The staged schema, once a call has seen one: reads pass it
        # instead of inferring it from a footer (one job each).
        self._schema = None

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        import pyarrow.parquet as pq

        for tmp in glob(os.path.join(escape(self.path), ".*.parquet.tmp")):
            os.remove(tmp)  # a crashed call's uncommitted delta or base
        epoch = int(epoch_id)
        latest = max((f.epoch for f in self._files()), default=-1)
        if epoch < latest:
            raise ValueError(
                f"epoch {epoch} is older than the table's epoch {latest}: "
                f"{self.path} belongs to another checkpoint"
            )
        staged = batch.withColumn(EPOCH_COL, F.lit(epoch).cast("bigint"))
        rows = staged.toArrow()  # the batch plan's one execution
        self._schema = staged.schema
        if not rows.num_rows:
            return  # empty-batch guard (reference processor.py:117-119)
        # Spark's row schema in the footer, so a read that infers the
        # schema gets the batch's types (timestamp_ntz, not timestamp).
        rows = rows.replace_schema_metadata({_SPARK_ROW_METADATA: self._schema.json()})
        os.makedirs(self.path, exist_ok=True)
        delta = os.path.join(self.path, f"delta-{epoch:012d}.parquet")
        tmp = os.path.join(self.path, f".delta-{epoch:012d}.parquet.tmp")
        pq.write_table(rows, tmp)
        os.replace(tmp, delta)  # the commit point
        self._fold(epoch, rows.schema)

    def _files(self) -> list[_DataFile]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for f in os.listdir(self.path):
            m = _DATA_FILE.fullmatch(f)
            if m:
                out.append(_DataFile(m[1], int(m[2]), os.path.join(self.path, f)))
        return out

    def _fold(self, epoch: int, schema) -> None:
        """Merge the base and the deltas older than ``epoch`` into a new
        base once the other files hold as many rows as the base, the newest
        base epoch's files (an older base's are a crashed fold's leftovers).
        Every file is cast to ``schema``, the newest delta's, so a base the
        Spark fold wrote (INT96 timestamps, no time zone) folds too."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        folded = [f for f in self._files() if f.kind == "base" or f.epoch < epoch]
        counts = {f: pq.read_metadata(f.path).num_rows for f in folded}
        newest = max((f.epoch for f in folded if f.kind == "base"), default=-1)
        base = sum(n for f, n in counts.items() if f.kind == "base" and f.epoch == newest)
        rest = sum(counts.values()) - base
        if not rest or rest < base:
            return
        rows = pa.concat_tables(
            pq.ParquetFile(f.path, coerce_int96_timestamp_unit="us").read().cast(schema)
            for f in folded
        )
        # merge_last_wins' rule: per key, the first row by order, then epoch.
        rows = rows.sort_by([(self.order_col, "descending"), (EPOCH_COL, "descending")])
        rank = pa.array(np.arange(rows.num_rows))
        first = rows.append_column("__rn", rank).group_by(self.keys).aggregate([("__rn", "min")])
        name = f"base-{max(f.epoch for f in folded):012d}-{epoch:012d}.parquet"
        dst, tmp = os.path.join(self.path, name), os.path.join(self.path, f".{name}.tmp")
        pq.write_table(rows.take(first["__rn_min"]), tmp)
        os.rename(tmp, dst)
        for f in folded:  # only once the new base is in; a re-delivered
            if f.path != dst:  # fold may have renamed over its own base
                os.remove(f.path)

    def read(self, spark) -> DataFrame:
        """The serving table: the base and deltas merged last-wins. Empty,
        with the batches' schema, while only empty batches have arrived."""
        if self._schema is not None and not self._files():
            return spark.createDataFrame([], self._schema).drop(EPOCH_COL)
        reader = spark.read if self._schema is None else spark.read.schema(self._schema)
        rows = reader.parquet(self.path)
        return merge_last_wins(rows, keys=self.keys, order_col=self.order_col).drop(EPOCH_COL)


_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    """Validate an SQL identifier destined for generated DDL/DML. The
    staging/serving table and column names are interpolated into SQL run
    with driver-side privileges, so anything outside [A-Za-z0-9_] is
    rejected rather than quoted-and-hoped."""
    if not _IDENT.match(name):
        raise ValueError(f"invalid SQL identifier: {name!r}")
    return name


#: Spark simpleString -> Postgres column type (serving-table DDL).
_SPARK_TO_PG = {
    "string": "TEXT",
    "double": "DOUBLE PRECISION",
    "float": "REAL",
    "bigint": "BIGINT",
    "int": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "SMALLINT",
    "boolean": "BOOLEAN",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
    "binary": "BYTEA",
}


def serving_table_ddl(
    schema,
    *,
    table: str,
    keys: list[str],
    order_col: str | None = None,
) -> list[str]:
    """CREATE TABLE + index statements for a keyed serving table, derived
    from a DataFrame schema — the reference ships this by hand
    (postgres/init/init.sql:6-20: PRIMARY KEY on the upsert keys plus a
    DESCENDING index on window_start for the freshness probe); here it is
    generated so the DDL can never drift from the DataFrame that feeds the
    sink.

    Returns [CREATE TABLE IF NOT EXISTS ..., CREATE INDEX IF NOT EXISTS ...].
    """
    _check_ident(table)
    names = [f.name for f in schema.fields]
    for k in keys:
        if k not in names:
            raise ValueError(f"key column {k!r} not in schema {names}")
    col_lines = []
    for f in schema.fields:
        _check_ident(f.name)
        t = f.dataType.simpleString()
        if t.startswith("decimal"):
            pg = t.upper().replace("DECIMAL", "NUMERIC")
        else:
            try:
                pg = _SPARK_TO_PG[t]
            except KeyError:
                raise ValueError(
                    f"no serving-table mapping for Spark type {t!r} ({f.name})"
                ) from None
        null = "" if f.nullable or f.name in keys else " NOT NULL"
        col_lines.append(f"    {f.name} {pg}{null}")
    key_cols = ", ".join(_check_ident(k) for k in keys)
    stmts = [
        f"CREATE TABLE IF NOT EXISTS {table} (\n"
        + ",\n".join(col_lines)
        + f",\n    PRIMARY KEY ({key_cols})\n)"
    ]
    if order_col is not None:
        _check_ident(order_col)
        stmts.append(
            f"CREATE INDEX IF NOT EXISTS idx_{table}_{order_col}_desc "
            f"ON {table} ({order_col} DESC)"
        )
    return stmts


class JdbcUpsertSink:
    """foreachBatch writer reproducing the reference's staging + merge
    upsert over JDBC (reference processor.py:116-172).

    Executors write the batch to a per-epoch staging table; the driver then
    runs a single transactional MERGE and drops staging. The batch is
    persisted across the empty guard and the upload, so the plan runs
    once per call. Connection
    parameters are accepted SEPARATELY (host/port/dbname/user/password,
    exactly like the reference's psycopg2 kwargs): one URL string cannot
    serve both sides, because a ``jdbc:postgresql://`` URL is not a valid
    psycopg2 DSN and the Spark JDBC writer wants credentials as options.
    Requires a JDBC driver JAR and a reachable database, so instantiation
    is allowed but calls raise cleanly when the environment lacks them.

    ``ensure_table(schema)`` creates the serving table + freshness index
    from the batch schema (serving_table_ddl) before the first merge.
    """

    def __init__(
        self,
        *,
        host: str,
        port: int = 5432,
        dbname: str,
        user: str,
        password: str,
        table: str,
        keys: list[str],
        order_col: str | None = None,
        driver: str = "org.postgresql.Driver",
        executor=None,
    ):
        self.host = host
        self.port = port
        self.dbname = dbname
        self.user = user
        self.password = password
        self.table = _check_ident(table)
        self.keys = [_check_ident(k) for k in keys]
        self.order_col = order_col
        self.driver = driver
        # Injectable driver-side SQL runner (callable taking *statements,
        # expected to run them in ONE transaction). None = the psycopg2
        # path. Lets the DDL + merge SQL execute against any DB with the
        # INSERT..ON CONFLICT dialect — tests drive it against in-process
        # DuckDB for a live round-trip the sandbox's missing Postgres
        # can't provide.
        self._executor = executor

    @property
    def jdbc_url(self) -> str:
        return f"jdbc:postgresql://{self.host}:{self.port}/{self.dbname}"

    def _staging_name(self, epoch_id: int) -> str:
        return _check_ident(f"{self.table}_staging_{int(epoch_id)}")

    def _merge_sql(self, staging: str, columns: list[str]) -> str:
        cols = ", ".join(_check_ident(c) for c in columns)
        key_cols = ", ".join(self.keys)
        updates = ", ".join(f"{c} = EXCLUDED.{c}" for c in columns if c not in self.keys)
        # Key-only tables (presence sets) have nothing to update on
        # conflict; "DO UPDATE SET" with an empty list is malformed SQL
        # (ADVICE r2), and DO NOTHING is the correct idempotent merge.
        action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
        return (
            f"INSERT INTO {self.table} ({cols}) SELECT {cols} FROM {staging} "
            f"ON CONFLICT ({key_cols}) {action}"
        )

    def ensure_table(self, schema) -> None:
        """Create the serving table + descending freshness index if absent."""
        self._exec(
            *serving_table_ddl(
                schema, table=self.table, keys=self.keys, order_col=self.order_col
            )
        )

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        # Persisted so the guard and the upload share one run of the plan:
        # the guard caches the partitions it reads, the upload the rest.
        batch.persist()
        try:
            if batch.isEmpty():  # reference processor.py:117-119
                return
            staging = self._staging_name(epoch_id)
            (
                batch.write.format("jdbc")
                .option("url", self.jdbc_url)
                .option("dbtable", staging)
                .option("user", self.user)
                .option("password", self.password)
                .option("driver", self.driver)
                .mode("overwrite")
                .save()
            )
        finally:
            batch.unpersist()
        self._exec(
            self._merge_sql(staging, [f.name for f in batch.schema.fields]),
            f"DROP TABLE {staging}",
        )

    def _exec(self, *statements: str) -> None:
        """Run statements in one driver-side transaction."""
        if self._executor is not None:
            self._executor(*statements)
            return
        try:
            import psycopg2  # noqa: F401
        except ImportError as e:  # pragma: no cover - env-dependent
            raise NotImplementedError(
                "JdbcUpsertSink merge step needs a driver-side DB client "
                "(psycopg2 for Postgres); not available in this environment"
            ) from e
        conn = psycopg2.connect(  # pragma: no cover
            host=self.host,
            port=self.port,
            dbname=self.dbname,
            user=self.user,
            password=self.password,
        )
        try:  # pragma: no cover
            with conn, conn.cursor() as cur:
                for s in statements:
                    cur.execute(s)
        finally:  # pragma: no cover
            conn.close()
