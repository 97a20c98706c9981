"""Postgres change-data-capture by polling — the reference's core
capability (streamz_postgres:sources.py / loaders.py [M], SURVEY §2.1),
rebuilt on Spark's batch/streaming machinery.

The reference polls a PG table with an ``xmin``-or-PK cursor, emits
row events after an initial snapshot, and cannot see DELETEs except
by full refresh. This module reproduces exactly that surface:

- ``JdbcPollingLoader``   snapshot + incremental cursor reads over
  ``spark.read.jdbc`` with range partitioning (the cursor predicate
  is pushed down to Postgres, like the reference's WHERE xmin > $1);
- ``ParquetReplayLoader``  the same Loader protocol over the events
  fixture (event_id as the cursor) so the poll loop is testable
  without a server;
- ``PollingCdcSource``    the driver-side poll loop: snapshot ->
  envelope('r') -> apply; then per poll: incremental -> envelope
  ('c'/'u') -> apply, with a checkpointable cursor;
- ``full_refresh_diff``   synthesizes c/u/d envelopes by diffing two
  snapshots (the only way xmin polling sees deletes — mirrored
  limitation, mirrored escape hatch);
- ``normalize_envelope``  parses Debezium-shaped JSON into the
  uniform envelope (the Kafka+Debezium ingestion path);
- ``apply_changes``       latest-row-wins MERGE: the canonical CDC
  consumer (materialize the table from the stream).

Envelope schema (Debezium-flavored): op CHAR, ts TIMESTAMP_NTZ,
seq LONG (LSN stand-in), key fields, after STRUCT, before STRUCT.

Scale notes: incremental reads partition the cursor range across
executors (numPartitions range scan); apply_changes is one hash
shuffle on the key + per-key linear state; the poll loop keeps only
an 8-byte cursor on the driver.

Correctness under Postgres xid semantics (the two classic
xmin-polling traps):

- **Open transactions.** xmin is assigned at txn START; a
  long-running txn can commit rows with an xid LOWER than changes
  already polled. The loop therefore never advances the cursor past
  ``safe_cursor()`` — the oldest-running-txn horizon minus one
  (``pg_snapshot_xmin(pg_current_snapshot())``). Rows between the
  horizon and the newest seen xid are re-read next poll:
  at-least-once, safe under the idempotent latest-row-wins apply.
- **xid wraparound.** The 32-bit xid counter wraps; comparing the
  TABLE's max xmin against the cursor cannot detect this (old rows
  keep their high xmin). The loop instead compares the DATABASE's
  horizon: ``safe_cursor() < cursor`` is impossible in normal
  operation (the cursor is capped at the horizon), so observing it
  means wraparound or a restored-from-backup source — the cursor
  resets to 0 and the next poll re-reads everything. The table-max
  fallback check remains for loaders without a horizon probe.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Protocol

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Uniform change envelope (Debezium-shaped, flattened key).
CDC_ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),  # c=create u=update d=delete r=read
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("seq", T.LongType()),  # LSN / cursor stand-in
        T.StructField("key", T.StringType()),  # json-encoded key
        T.StructField("before", T.StringType()),  # json row image or null
        T.StructField("after", T.StringType()),  # json row image or null
    ]
)


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_$]*$")


def quote_qualified_ident(name: str) -> str:
    """Validate and double-quote a possibly schema-qualified SQL
    identifier (``public.orders`` -> ``"public"."orders"``). Already-
    quoted parts are accepted if they contain no embedded quotes.
    Raises ValueError on anything else — the identifier reaches SQL
    text by interpolation, so this is the injection boundary."""
    parts = name.split(".")
    if not 1 <= len(parts) <= 2:
        raise ValueError(f"invalid table identifier: {name!r}")
    quoted = []
    for p in parts:
        if p.startswith('"') and p.endswith('"') and len(p) >= 2:
            p = p[1:-1]
        if not p or '"' in p or not _IDENT_RE.match(p):
            raise ValueError(f"invalid table identifier part: {p!r}")
        quoted.append(f'"{p}"')
    return ".".join(quoted)


class Loader(Protocol):
    """Snapshot + incremental access to a captured table."""

    def snapshot(self) -> DataFrame: ...

    def max_cursor(self) -> int: ...

    def incremental(self, cursor: int) -> DataFrame: ...

    def safe_cursor(self) -> int | None:
        """Highest cursor value guaranteed complete (no still-open
        transaction at or below it), or None when the source has no
        in-flight-work concept."""
        ...


@dataclass
class JdbcPollingLoader:
    """Cursor-paged JDBC loader (the production path).

    ``cursor_expr`` defaults to the xmin trick the reference uses:
    Postgres exposes row versions in the xmin system column; casting
    through text yields a bigint that grows with every write. The
    incremental query ships the cursor predicate to the server —
    Spark's JDBC source pushes both the predicate and the column
    pruning, so each poll reads only changed rows, exactly like the
    reference's incremental SQL.
    """

    spark: SparkSession
    url: str
    table: str
    cursor_expr: str = "(xmin::text::bigint)"
    num_partitions: int = 8
    properties: dict | None = None

    def __post_init__(self) -> None:
        # table names are interpolated into SQL: validate against a
        # strict [schema.]ident grammar and double-quote each part,
        # so a config-supplied name can neither inject SQL nor break
        # on mixed-case/reserved identifiers. cursor_expr remains
        # TRUSTED CONFIGURATION (it is an expression by contract and
        # cannot be quoted) — documented, not validated.
        self.table = quote_qualified_ident(self.table)

    def _read(self, query: str) -> DataFrame:
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("query", query)
            .option("fetchsize", "10000")
        )
        for k, v in (self.properties or {}).items():
            reader = reader.option(k, v)
        return reader.load()

    def snapshot(self) -> DataFrame:
        return self._read(
            f"SELECT t.*, {self.cursor_expr} AS __cursor FROM {self.table} t"
        )

    def max_cursor(self) -> int:
        row = self._read(
            f"SELECT COALESCE(MAX({self.cursor_expr}), 0) AS c FROM {self.table} t"
        ).collect()[0]
        return int(row["c"])

    def safe_cursor(self) -> int | None:
        """Oldest-running-transaction horizon minus one, in the same
        32-bit domain as ``xmin::text::bigint``: every transaction at
        or below it has finished, so the cursor may safely advance
        this far (and no further — see the module docstring).
        ``pg_snapshot_xmin(pg_current_snapshot())`` is the 64-bit
        epoch-qualified xid8; ``% 2^32`` recovers the raw xid that
        xmin values carry. Only meaningful for the xmin cursor — a
        user-supplied PK cursor has no in-flight-work horizon."""
        if "xmin" not in self.cursor_expr:
            return None
        row = self._read(
            "SELECT (pg_snapshot_xmin(pg_current_snapshot())::text::bigint"
            " % 4294967296) - 1 AS c"
        ).collect()[0]
        return int(row["c"])

    def incremental(self, cursor: int) -> DataFrame:
        # Range-partitioned incremental scan: split the open cursor
        # interval so executors read in parallel.
        hi = self.max_cursor()
        if hi <= cursor:
            return self.snapshot().limit(0)
        step = max(1, (hi - cursor) // self.num_partitions)
        # one predicate per partition: each executor runs its own
        # range-bounded query server-side (parallel incremental scan)
        predicates = [
            f"__cursor > {lo} AND __cursor <= {min(lo + step, hi)}"
            for lo in range(cursor, hi, step)
        ]
        return self.spark.read.jdbc(
            url=self.url,
            table=(
                f"(SELECT t.*, {self.cursor_expr} AS __cursor "
                f"FROM {self.table} t) sub"
            ),
            predicates=predicates,
            # fetchsize on the hot polling path too: without it the
            # PG driver materializes each partition's full result set
            properties={"fetchsize": "10000", **(self.properties or {})},
        )


@dataclass
class PsqlPollingLoader:
    """Cursor-paged loader over the ``psql`` CLI (jar-less fallback).

    Issues the SAME server-side SQL as :class:`JdbcPollingLoader`
    (identical ``cursor_expr`` default, snapshot/incremental/
    safe_cursor queries) but transports rows via
    ``COPY (query) TO STDOUT (FORMAT CSV)`` into a scratch file that
    Spark reads with an explicit schema. Exists for two reasons:

    - environments with a Postgres server but no JDBC driver jar on
      the Spark classpath (this sandbox: /usr/local/bin/psql exists,
      Maven is unreachable) — the live integration suite uses it to
      exercise the REAL xmin-cursor semantics against a real server;
    - operational escape hatch (debugging a poll from a shell host).

    Production stays on JdbcPollingLoader: the CSV hop funnels the
    snapshot through one driver-side process (no server-side
    parallel range scan) and CSV round-trips only the scalar types
    the ``schema`` names — fine for a poll loop's row volumes, wrong
    for a 100 TB backfill. ``schema`` is the table's Spark DDL
    WITHOUT the cursor column (appended automatically).
    """

    spark: SparkSession
    dsn: list[str]  # psql args, e.g. ["-h", sockdir, "-p", "5433", ...]
    table: str
    schema: str
    cursor_expr: str = "(xmin::text::bigint)"
    psql_path: str = "psql"

    def __post_init__(self) -> None:
        self.table = quote_qualified_ident(self.table)
        # scratch CSVs of returned frames: frames are read LAZILY,
        # and a caller may legitimately hold several at once (e.g.
        # union a snapshot with a later delta before collecting), so
        # files are only released by close() — which PollingCdcSource
        # calls after each envelope batch is consumed, keeping the
        # poll loop leak-free without invalidating live frames.
        self._scratch: list[str] = []

    def close(self) -> None:
        """Remove every scratch CSV handed out so far. Frames
        returned before this call must not be re-read afterwards
        (same consume-within-the-batch contract PollingCdcSource
        already imposes on envelope frames)."""
        import os

        while self._scratch:
            try:
                os.unlink(self._scratch.pop())
            except OSError:
                pass

    def _scalar(self, sql: str) -> str:
        import subprocess

        out = subprocess.run(
            [self.psql_path, *self.dsn, "-X", "-A", "-t", "-c", sql],
            capture_output=True,
            text=True,
            check=True,
        )
        return out.stdout.strip()

    def _frame(self, query: str) -> DataFrame:
        import subprocess
        import tempfile

        out = subprocess.run(
            [
                self.psql_path,
                *self.dsn,
                "-X",
                "-c",
                # FORCE_QUOTE * so every non-NULL value is quoted:
                # an unquoted empty field is then unambiguously NULL
                # and a quoted "" unambiguously the empty string
                # (round-7 review find — COPY's default leaves empty
                # strings unquoted, identical to the NULL sentinel)
                f"COPY ({query}) TO STDOUT "
                "(FORMAT CSV, HEADER, FORCE_QUOTE *)",
            ],
            capture_output=True,
            text=True,
            check=True,
        )
        f = tempfile.NamedTemporaryFile(
            mode="w", suffix=".csv", delete=False, prefix="psql_poll_"
        )
        f.write(out.stdout)
        f.close()
        self._scratch.append(f.name)
        return (
            self.spark.read.option("header", True)
            # RFC-4180 options (round-7 review find): PG COPY doubles
            # quotes ("" inside a quoted field) and keeps newlines
            # inside quotes; Spark's defaults (backslash escape, no
            # multiLine) silently misparse both
            .option("escape", '"')
            .option("multiLine", True)
            # with FORCE_QUOTE * on the COPY side, a quoted "" is an
            # empty string and an unquoted empty field is NULL; the
            # sentinel nullValue stops Spark's default (nullValue="")
            # from mapping the quoted form to null too — univocity
            # still reads unquoted-empty as null regardless
            .option("nullValue", "\\N__NULL__")
            .schema(f"{self.schema}, __cursor bigint")
            .csv(f.name)
        )

    def snapshot(self) -> DataFrame:
        return self._frame(
            f"SELECT t.*, {self.cursor_expr} AS __cursor FROM {self.table} t"
        )

    def max_cursor(self) -> int:
        return int(
            self._scalar(
                f"SELECT COALESCE(MAX({self.cursor_expr}), 0) "
                f"FROM {self.table} t"
            )
        )

    def safe_cursor(self) -> int | None:
        if "xmin" not in self.cursor_expr:
            return None
        return int(
            self._scalar(
                "SELECT (pg_snapshot_xmin(pg_current_snapshot())"
                "::text::bigint % 4294967296) - 1"
            )
        )

    def incremental(self, cursor: int) -> DataFrame:
        return self._frame(
            f"SELECT t.*, {self.cursor_expr} AS __cursor "
            f"FROM {self.table} t "
            f"WHERE {self.cursor_expr} > {int(cursor)}"
        )


@dataclass
class ParquetReplayLoader:
    """Loader over the events fixture: event_id is the cursor.

    Lets every CDC code path run (and be oracle-checked) without a
    Postgres server; swap for JdbcPollingLoader in production.
    """

    spark: SparkSession
    sf_dir: str
    snapshot_cursor: int

    def _events(self) -> DataFrame:
        from streamz_postgres_spark.catalog import load_table

        return load_table(self.spark, self.sf_dir, "events").withColumn(
            "__cursor", F.col("event_id")
        )

    def snapshot(self) -> DataFrame:
        return self._events().filter(F.col("__cursor") <= self.snapshot_cursor)

    def max_cursor(self) -> int:
        row = self._events().agg(F.max("__cursor").alias("c")).collect()[0]
        return int(row["c"] or 0)

    def incremental(self, cursor: int) -> DataFrame:
        return self._events().filter(F.col("__cursor") > cursor)

    def safe_cursor(self) -> int | None:
        return None  # replay has no in-flight transactions


def to_envelope(df: DataFrame, key_cols: list[str], op: "F.Column | str") -> DataFrame:
    """Wrap captured rows in the uniform envelope. ``op`` may be a
    literal ('r' for snapshot reads) or a column expression."""
    payload_cols = [c for c in df.columns if c != "__cursor"]
    op_col = F.lit(op) if isinstance(op, str) else op
    return df.select(
        op_col.alias("op"),
        (F.col("ts") if "ts" in df.columns else F.lit(None).cast("timestamp_ntz")).alias("ts"),
        F.col("__cursor").cast("long").alias("seq"),
        F.to_json(F.struct(*key_cols)).alias("key"),
        F.lit(None).cast("string").alias("before"),
        F.to_json(F.struct(*payload_cols)).alias("after"),
    )


def normalize_envelope(raw: DataFrame, json_col: str = "value") -> DataFrame:
    """Parse Debezium-shaped JSON messages (e.g. a Kafka topic read
    via readStream.format('kafka')) into the uniform envelope."""
    return raw.select(
        F.from_json(F.col(json_col), CDC_ENVELOPE_SCHEMA).alias("e")
    ).select("e.*")


def full_refresh_diff(
    prev: DataFrame, cur: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Diff two snapshots into c/u/d envelopes.

    xmin polling cannot observe DELETEs (reference limitation,
    SURVEY §2.1); periodic full-refresh diffing is the documented
    escape hatch. Implemented as a NULL-SAFE full outer join on the
    raw key columns (eqNullSafe per key, presence decided by the
    payload sides, r13 — the round-12 advisor's high find): the
    tuple-set convention is 'NULL is a value', so a NULL-keyed row
    present in both snapshots is the SAME key — unchanged, no
    envelope — matching q_cdc_diff's oracle (IS NOT DISTINCT FROM +
    presence flags). The previous plain `=` USING-join emitted a
    spurious 'c' + 'd' pair for exactly that row. Rows: right-only
    -> 'c', left-only -> 'd', both-but-changed -> 'u'.
    """
    l = prev.select(
        *[F.col(c).alias(f"__lk_{c}") for c in key_cols],
        F.to_json(F.struct(*[c for c in prev.columns])).alias("before"),
    )
    r = cur.select(
        *[F.col(c).alias(f"__rk_{c}") for c in key_cols],
        F.to_json(F.struct(*[c for c in cur.columns])).alias("after"),
    )
    cond = None
    for c in key_cols:
        eq = F.col(f"__lk_{c}").eqNullSafe(F.col(f"__rk_{c}"))
        cond = eq if cond is None else (cond & eq)
    j = l.join(r, cond, "full")
    # coalesce per key column for the envelope key (either side may
    # be absent; a genuinely-NULL key part stays NULL on both sides)
    keyed = [
        F.coalesce(F.col(f"__lk_{c}"), F.col(f"__rk_{c}")).alias(c)
        for c in key_cols
    ]
    return j.select(
        F.when(F.col("before").isNull(), "c")
        .when(F.col("after").isNull(), "d")
        .otherwise("u")
        .alias("op"),
        F.lit(None).cast("timestamp_ntz").alias("ts"),
        F.lit(None).cast("long").alias("seq"),
        # ignoreNullFields off so NULL key parts stay visible as
        # {"k": null} instead of vanishing from the key
        F.to_json(
            F.struct(*keyed), {"ignoreNullFields": "false"}
        ).alias("key"),
        "before",
        "after",
    ).filter(
        F.col("before").isNull()
        | F.col("after").isNull()
        | (F.col("before") != F.col("after"))
    )


def apply_changes(
    changes: DataFrame,
    key: list[str] | str = "key",
    seq_cols: list[str] | None = None,
) -> DataFrame:
    """Latest-row-wins CDC apply: compact an envelope stream to the
    current table state (drop keys whose latest op is a delete).

    This is the canonical consumer of the reference's stream (apply
    the change feed to a materialized copy) as one window over the
    key — Delta's MERGE INTO without needing a transactional sink.
    """
    keys = [key] if isinstance(key, str) else key
    seq = seq_cols or ["seq"]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in seq])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("op") != "d"))
        .drop("__rn")
    )


class PollingCdcSource:
    """The reference's poll loop, Spark-side (SURVEY §3.1).

    snapshot -> 'r' envelopes -> apply_fn; then each poll reads rows
    with cursor > last, wraps them as 'c'/'u' envelopes, advances the
    cursor, and hands the batch to ``apply_fn(batch_df, poll_idx)``
    — the driver-loop analogue of foreachBatch. The cursor is plain
    state a caller can checkpoint (the streaming runner persists it
    alongside the Spark checkpoint dir).
    """

    def __init__(
        self,
        loader: Loader,
        key_cols: list[str],
        is_create: "Callable[[DataFrame], F.Column] | None" = None,
    ) -> None:
        self.loader = loader
        self.key_cols = key_cols
        self.is_create = is_create
        self.cursor: int = 0

    def start(self, apply_fn: Callable[[DataFrame, int], None]) -> None:
        # persist the envelope batch so the apply and the cursor agg
        # read ONE materialized execution of the source query — two
        # independent lazy executions of a live JDBC read could see
        # different data, silently skipping rows committed in between
        env = to_envelope(self.loader.snapshot(), self.key_cols, "r").persist()
        try:
            # one job fills the cache and yields the cursor
            hi = env.agg(F.max("seq")).collect()[0][0]
            apply_fn(env, 0)
            self.cursor = int(hi or 0)
        finally:
            env.unpersist()
            # the batch is fully consumed: let scratch-holding
            # loaders (PsqlPollingLoader) drop their temp files
            getattr(self.loader, "close", lambda: None)()

    def poll_once(self, apply_fn: Callable[[DataFrame, int], None], idx: int) -> int:
        """One poll: returns the number of change rows emitted.

        Safety rules (rationale in the module docstring):

        - the cursor never advances past the loader's ``safe_cursor``
          horizon, so rows from still-open transactions are re-read
          once they commit (at-least-once under idempotent apply);
        - ``safe_cursor() < cursor`` cannot happen in normal
          operation, so it signals xid wraparound or a restored
          source: reset to 0 and re-read everything;
        - loaders without a horizon (``safe_cursor() is None``) fall
          back to the table-max regression check on empty polls —
          catches restored backups, though not xmin wraparound.
        """
        safe = getattr(self.loader, "safe_cursor", lambda: None)()
        if safe is not None and safe < self.cursor:
            # wraparound/regression: re-read from zero
            self.cursor = 0
        inc = self.loader.incremental(self.cursor)
        if self.is_create is not None:
            op = F.when(self.is_create(inc), "c").otherwise("u")
        else:
            op = F.lit("c")
        # one materialized execution serves count, apply, and cursor
        env = to_envelope(inc, self.key_cols, op).persist()
        try:
            # one job fills the cache and yields count and cursor
            n, hi = env.agg(F.count(F.lit(1)), F.max("seq")).collect()[0]
            if n:
                apply_fn(env, idx)
                cap = int(hi) if safe is None else min(int(hi), safe)
                self.cursor = max(self.cursor, cap)
            elif safe is None:
                observed = self.loader.max_cursor()
                if observed < self.cursor:
                    # regression fallback (no horizon probe)
                    self.cursor = 0
        finally:
            env.unpersist()
            getattr(self.loader, "close", lambda: None)()
        return n


@dataclass
class PsqlTableSink:
    """Write-back sink over the ``psql`` CLI (jar-less fallback) —
    the consumer half PsqlPollingLoader is the source half of: a
    materialized CDC table living IN Postgres, round-trippable
    without a JDBC driver on the classpath.

    ``write`` creates the table from the frame's schema when absent
    (Spark -> PG types via :func:`pg_types.pg_type_for`) and COPYs
    the rows in as CSV through one psql process. The frame funnels
    through the driver (``toPandas``) — right for a poll loop's
    batch sizes and for tests against a live server; a 100 TB
    backfill uses the JDBC writer (``df.write.jdbc``) or
    per-partition COPY workers instead, and the docstring is the
    contract that says so.
    """

    spark: SparkSession
    dsn: list[str]
    table: str
    psql_path: str = "psql"

    def __post_init__(self) -> None:
        self.table = quote_qualified_ident(self.table)

    def _run(self, argv: list[str], stdin_text: str | None = None) -> str:
        import subprocess

        out = subprocess.run(
            [self.psql_path, *self.dsn, "-X", *argv],
            input=stdin_text,
            capture_output=True,
            text=True,
            check=True,
        )
        return out.stdout

    def _ddl(self, df: DataFrame) -> str:
        from streamz_postgres_spark.sources.pg_types import pg_type_for

        cols = ", ".join(
            f'"{f.name}" {pg_type_for(f.dataType.simpleString())}'
            for f in df.schema.fields
        )
        return f"CREATE TABLE IF NOT EXISTS {self.table} ({cols})"

    def write(self, df: DataFrame, mode: str = "append") -> int:
        """Write ``df`` into the PG table; returns rows written.
        ``mode``: 'append' adds rows, 'overwrite' truncates first.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unsupported mode {mode!r}")
        self._run(["-c", self._ddl(df)])
        if mode == "overwrite":
            self._run(["-c", f"TRUNCATE {self.table}"])
        # hand-rolled CSV from collected Rows (round-7 review find):
        # toPandas coerces nullable integer columns to float64 ('1.0'
        # breaks a bigint COPY) and its unquoted empty strings
        # conflate with NULL. Rows keep Python ints/None; rendering
        # None as unquoted-empty and EVERY string quoted makes NULL
        # vs '' unambiguous under COPY's CSV rules.
        def cell(v) -> str:
            if v is None:
                return ""
            if isinstance(v, str):
                return '"' + v.replace('"', '""') + '"'
            return str(v)

        cols = df.columns
        rows = df.collect()
        csv_text = "".join(
            ",".join(cell(row[c]) for c in cols) + "\n" for row in rows
        )
        collist = ", ".join(f'"{c}"' for c in cols)
        self._run(
            [
                "-c",
                f"COPY {self.table} ({collist}) "
                "FROM STDIN (FORMAT CSV, NULL '')",
            ],
            stdin_text=csv_text,
        )
        return len(rows)
