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
  benchmark. A call writes only its batch, as that epoch's delta files in
  a flat table directory; the empty-batch guard reads the staged files'
  footers instead of running a job. ``read`` merges last-wins by key
  (``merge_last_wins``), and deltas fold into one base once their bytes
  reach the base's.
- ``JdbcUpsertSink`` reproduces staging + merge for any JDBC database
  (server-side MERGE, driver-side connection) — import-gated since test
  containers carry no JDBC driver or server. The batch is persisted across
  the guard and the staging upload.

Both are plain callables usable as ``foreachBatch(sink)``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from glob import escape, glob
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.scale import recover_swap, swap_dir

#: Column the parquet sink stores each row's epoch in (``read`` drops it).
EPOCH_COL = "__epoch"
#: ``{kind}-{epoch}-{token}-{spark part name}``: the table's data files.
_DATA_FILE = re.compile(r"(base|delta)-(\d+)-([0-9a-f]+)-.+\.parquet")
#: A delta attempt renamed into the table but not yet settled.
_LANDING = re.compile(r"_landing-(\d+)-([0-9a-f]+)")


def merge_last_wins(
    existing: DataFrame | None, batch: DataFrame, *, keys: list[str], order_col: str
) -> DataFrame:
    """Upsert semantics as a pure transform: one row per key, highest
    ``order_col`` wins. At equal order batch rows beat existing rows, and
    of rows carrying ``EPOCH_COL`` the later epoch wins."""
    src = batch.withColumn("__src", F.lit(1))
    if existing is not None:
        src = existing.withColumn("__src", F.lit(0)).unionByName(src)
    recency = [F.col(order_col).desc(), F.col("__src").desc()]
    if EPOCH_COL in src.columns:
        recency.append(F.col(EPOCH_COL).desc())
    w = Window.partitionBy(*keys).orderBy(*recency)
    return (
        src.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def _parquet_parts(directory: str) -> list[str]:
    return [f for f in os.listdir(directory) if f.endswith(".parquet")]


class _DataFile(NamedTuple):
    kind: str  # "base" or "delta"
    epoch: int
    token: str
    path: str


class ParquetUpsertSink:
    """foreachBatch writer maintaining a keyed parquet table with last-wins
    upserts — the test twin of the reference's Postgres upsert.

    Layout: flat files ``{base|delta}-{epoch}-{token}-{part}.parquet`` in
    ``path``, each row carrying its epoch in ``EPOCH_COL``; ``token`` names
    one write attempt.

    A call writes the batch once, into a staging directory beside the
    table. If the staged footers hold no rows the directory is dropped
    (the empty-batch guard). Otherwise it is renamed into the table as
    ``_landing-{epoch}-{token}``, the commit point; its files then move to
    the table root, and the files of any earlier attempt at the same epoch
    are removed, so a re-delivered epoch replaces its own files. A crash
    after the commit point is finished by ``_recover`` on the next call or
    ``read``.

    Once the bytes of the deltas older than the call's epoch reach the
    base's bytes, they are merged with the base into a new base, swapped in
    by rename-aside (``operators.scale.swap_dir``). The newest epoch stays
    a delta, so its re-delivery still finds its own files. Epoch ids must
    not go backwards: one checkpoint per table.
    """

    def __init__(self, path: str, *, keys: list[str], order_col: str):
        self.path = path
        self.keys = keys
        self.order_col = order_col
        # The staged schema, once a call has seen one: reads and folds
        # pass it instead of inferring it from a footer (one job each).
        self._schema = None

    def __call__(self, batch: DataFrame, epoch_id: int) -> None:
        import pyarrow.parquet as pq

        self._recover()
        for stale in glob(escape(self._staging("")) + "*"):
            shutil.rmtree(stale)  # a crashed call's unfinished write
        epoch = int(epoch_id)
        latest = max((f.epoch for f in self._files()), default=-1)
        if epoch < latest:
            raise ValueError(
                f"epoch {epoch} is older than the table's epoch {latest}: "
                f"{self.path} belongs to another checkpoint"
            )
        token = uuid.uuid4().hex[:12]
        staging = self._staging(f"{epoch}-{token}")
        staged = batch.withColumn(EPOCH_COL, F.lit(epoch).cast("bigint"))
        staged.write.parquet(staging)
        self._schema = staged.schema
        parts = _parquet_parts(staging)
        if not sum(pq.read_metadata(os.path.join(staging, f)).num_rows for f in parts):
            shutil.rmtree(staging)  # empty-batch guard (reference processor.py:117-119)
            return
        os.makedirs(self.path, exist_ok=True)
        landing = os.path.join(self.path, f"_landing-{epoch:012d}-{token}")
        os.rename(staging, landing)
        self._settle(landing)
        self._fold(batch.sparkSession, epoch)

    def _staging(self, tag: str) -> str:
        """A write's staging dir: beside the table, so moving its files in
        is a same-filesystem rename."""
        head, name = os.path.split(os.path.abspath(self.path))
        return os.path.join(head, f".{name}.staging-{tag}")

    def _files(self) -> list[_DataFile]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for f in os.listdir(self.path):
            m = _DATA_FILE.fullmatch(f)
            if m:
                out.append(_DataFile(m[1], int(m[2]), m[3], os.path.join(self.path, f)))
        return out

    def _settle(self, landing: str) -> None:
        """Finish a committed landing: move its files to the table root,
        then drop the files other attempts wrote for the same epoch."""
        epoch, token = _LANDING.fullmatch(os.path.basename(landing)).groups()
        for f in _parquet_parts(landing):
            os.rename(os.path.join(landing, f),
                      os.path.join(self.path, f"delta-{epoch}-{token}-{f}"))
        self._drop_superseded(int(epoch), token)
        shutil.rmtree(landing)

    def _drop_superseded(self, epoch: int, token: str) -> None:
        for f in self._files():
            if f.kind == "delta" and f.epoch == epoch and f.token != token:
                os.remove(f.path)

    def _fold(self, spark, epoch: int) -> None:
        """Merge the base and the deltas older than ``epoch`` into a new
        base once the deltas' bytes reach the base's."""
        files = self._files()
        folded = [f for f in files if f.kind == "base" or f.epoch < epoch]
        base = sum(os.path.getsize(f.path) for f in folded if f.kind == "base")
        deltas = sum(os.path.getsize(f.path) for f in folded if f.kind == "delta")
        if not deltas or deltas < base:
            return
        rows = self._reader(spark).parquet(*(f.path for f in folded))
        merged = merge_last_wins(None, rows, keys=self.keys, order_col=self.order_col)
        top = max(f.epoch for f in folded)
        token = uuid.uuid4().hex[:12]
        staging = self._staging(f"{top}-{token}")
        merged.write.parquet(staging)
        for f in os.listdir(staging):
            src = os.path.join(staging, f)
            if f.endswith(".parquet"):
                os.rename(src, os.path.join(staging, f"base-{top:012d}-{token}-{f}"))
            else:
                os.remove(src)  # _SUCCESS and checksums of the renamed parts
        for f in files:
            if f not in folded:
                shutil.copy2(f.path, staging)
        swap_dir(staging, self.path)

    def _recover(self) -> None:
        """Finish what a crashed call left: a rename-aside swap cut between
        its renames, or a committed landing not yet settled."""
        recover_swap(self.path)
        if os.path.isdir(self.path):
            for f in os.listdir(self.path):
                if _LANDING.fullmatch(f):
                    self._settle(os.path.join(self.path, f))

    def _reader(self, spark):
        return spark.read if self._schema is None else spark.read.schema(self._schema)

    def read(self, spark) -> DataFrame:
        """The serving table: the base and deltas merged last-wins."""
        self._recover()
        rows = self._reader(spark).parquet(self.path)
        return merge_last_wins(
            None, rows, keys=self.keys, order_col=self.order_col
        ).drop(EPOCH_COL)


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
