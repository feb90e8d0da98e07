"""Live JDBC execution path: real reads via ``spark.read.jdbc`` and real
set-based writes (staged bulk load + driver-side upsert SQL).

Reference analog: the reader opens a connection, splices the split /
incremental / restore predicates into the query and streams rows
(flinkx-rdb/flinkx-rdb-reader/.../JdbcInputFormat.java:230-295); the
writer batches rows and executes per-mode INSERT/REPLACE/UPDATE
statements (JdbcOutputFormat.java:145-215,290-334); preSql/postSql run
once around the whole job behind an all-channels latch
(BaseRichOutputFormat.java:648-660, flinkx-core/.../latch/LocalLatch.java).

Spark translation — set-based, not row-at-a-time:
- READ: ``spark.read.jdbc`` with the option/predicate plan from
  ``jdbc_reader_options`` (mod predicates or native partitionColumn
  ranges); each predicate is one partition/task, so "channels" are scan
  partitions. Incremental bounds are pinned BEFORE the read by a scalar
  ``SELECT MAX(col)`` (useMaxFunc, JdbcInputFormat.java:367-514) so rows
  arriving mid-scan can't tear the window.
- WRITE insert: ``df.write.jdbc(mode=append)`` — distributed, batched
  (the executors hold the connections, like the reference's channels).
- WRITE upsert/replace: bulk-load a staging table distributed, then ONE
  set-based driver-side upsert (UPDATE..WHERE EXISTS + INSERT..WHERE NOT
  EXISTS — portable ANSI; a MERGE variant for dialects whose MERGE is
  sound). This is what the reference's per-row "ON DUPLICATE KEY" loop
  becomes in a set-based engine: same final state, one round-trip.
- preSql/postSql: Spark's driver IS the reference's latch barrier — they
  execute exactly once before the first / after the last write task.

Tested end-to-end against the embedded Apache Derby that ships in
pyspark's jars (same JVM as the executors, so ``jdbc:derby:memory:`` is
visible to every task). NOTE: Derby's own MERGE statement corrupts reads
of Spark-written pages (measured: ERROR XSDA7), hence the portable
two-statement upsert as the default strategy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from chunjun_spark.sources.jdbc import (
    incremental_clause,
    jdbc_reader_options,
    render_literal,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


# ----------------------------------------------------------- driver-side SQL

def _connection(spark: SparkSession, url: str, driver: str | None = None,
                user: str | None = None, password: str | None = None):
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    if user is not None:
        return jvm.java.sql.DriverManager.getConnection(url, user, password or "")
    return jvm.java.sql.DriverManager.getConnection(url)


def execute_sql(
    spark: SparkSession,
    url: str,
    statements: list[str],
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
) -> list[int]:
    """Run statements once on the driver (preSql/postSql, DDL, upserts) —
    the all-writers latch analog (BaseRichOutputFormat.java:648-660).
    Returns each statement's update count (-1 for non-DML).

    Runs as ONE transaction (autocommit off, single commit at the end):
    a crash mid-list applies nothing — the property
    ``write_jdbc_exactly_once`` builds on to make data apply + batch
    marker atomic (the reference's XA ``semantic=exactly-once``,
    JdbcOutputFormat commit protocol)."""
    conn = _connection(spark, url, driver, user, password)
    counts = []
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        for sql in statements:
            try:
                counts.append(st.executeUpdate(sql))
            except Exception:
                # some drivers refuse executeUpdate for DDL/queries
                st.execute(sql)
                counts.append(-1)
        conn.commit()
    except Exception:
        try:
            conn.rollback()
        except Exception:
            pass
        raise
    finally:
        conn.close()
    return counts


def query_scalar(
    spark: SparkSession,
    url: str,
    sql: str,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
):
    """One-row-one-column query on the driver — end-location pinning
    (``SELECT MAX(inc_col)``, JdbcInputFormat.java:367-514)."""
    conn = _connection(spark, url, driver, user, password)
    try:
        rs = conn.createStatement().executeQuery(sql)
        return rs.getObject(1) if rs.next() else None
    finally:
        conn.close()


# ------------------------------------------------------------------- read

def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    columns: list[str] | None = None,
    where: str | None = None,
    split_column: str | None = None,
    n_channels: int = 1,
    fetch_size: int = 1000,
    lower: int | None = None,
    upper: int | None = None,
    inc_column: str | None = None,
    inc_type: str = "bigint",
    start_location=None,
    use_max_func: bool = True,
    rownum_split: bool = False,
    rownum_order_by: str | None = None,
) -> tuple[DataFrame, dict]:
    """Execute the read plan from ``jdbc_reader_options`` and return
    (DataFrame, state) where state carries the pinned ``endLocation`` for
    offset lineage / the next incremental run.

    The WHERE pieces (user filter, incremental window, split predicate)
    are spliced into the JDBC-side query exactly like QuerySqlBuilder —
    they run IN the database, not as a post-scan Spark filter.

    ``rownum_split=True`` is the no-numeric-pk split: the source is
    wrapped as a ROW_NUMBER-carrying derived table and channels take
    ``mod(rownum, N) = i`` slices (QuerySqlBuilder.java:187-203);
    ``rownum_order_by`` should name a stable expression for exact
    coverage. Mutually exclusive with ``split_column``.
    """
    if rownum_split:
        from chunjun_spark.sources.jdbc import (
            ROWNUM_COL,
            rownum_split_predicates,
            rownum_wrapped_table,
        )

        if split_column:
            raise ValueError("rownum_split and split_column are exclusive")
        if inc_column is not None or start_location is not None:
            # silently ignoring the incremental window would re-ingest
            # the whole table AND return no endLocation to resume from
            raise ValueError(
                "rownum_split does not support incremental reads "
                "(inc_column/start_location): ROW_NUMBER is not a stable "
                "offset across runs — use a mod/range split instead"
            )
        props = {"fetchsize": str(fetch_size)}
        if driver:
            props["driver"] = driver
        if user is not None:
            props["user"] = user
            props["password"] = password or ""
        preds = rownum_split_predicates(n_channels)
        if where:
            preds = [f"{p} AND ({where})" for p in preds]
        df = spark.read.jdbc(
            url,
            rownum_wrapped_table(table, rownum_order_by),
            predicates=preds,
            properties=props,
        )
        df = df.drop(ROWNUM_COL)
        if columns:
            df = df.select(*columns)
        return df, {}
    state: dict = {}
    clauses = []
    if where:
        clauses.append(f"({where})")
    if inc_column is not None and start_location is not None:
        end = None
        if use_max_func:
            end_raw = query_scalar(
                spark, url, f"SELECT MAX({inc_column}) FROM {table}",
                driver, user, password,
            )
            if end_raw is not None:
                # window is (start, end]: pin end BEFORE the scan so rows
                # arriving mid-read can't tear it
                state["endLocation"] = end_raw
                clauses.append(
                    "(" + incremental_clause(inc_column, inc_type, start_location)
                    + f" AND {inc_column} <= {render_literal(end_raw, inc_type)})"
                )
                end = end_raw
        if end is None:
            clauses.append(
                "(" + incremental_clause(inc_column, inc_type, start_location) + ")"
            )
    full_where = " AND ".join(clauses) if clauses else None

    plan = jdbc_reader_options(
        url, table, split_column=split_column, n_channels=n_channels,
        fetch_size=fetch_size, where=full_where, lower=lower, upper=upper,
    )
    props = {"fetchsize": str(fetch_size)}
    if driver:
        props["driver"] = driver
    if user is not None:
        props["user"] = user
        props["password"] = password or ""
    if plan["predicates"] is not None:
        df = spark.read.jdbc(url, table, predicates=plan["predicates"],
                             properties=props)
    else:
        opts = dict(plan["options"])
        opts.pop("url", None)
        opts.pop("dbtable", None)
        reader = spark.read.format("jdbc").option("url", url).option(
            "dbtable", table
        )
        for k, v in {**opts, **props}.items():
            reader = reader.option(k, v)
        df = reader.load()
        if full_where and "partitionColumn" in plan["options"]:
            # native range split can't carry a custom WHERE — apply it as
            # a pushed filter (Catalyst pushes simple predicates to JDBC)
            df = df.filter(full_where)
    if columns:
        df = df.select(*columns)
    if full_where and plan["predicates"] is None and "partitionColumn" not in plan["options"]:
        df = df.filter(full_where)
    return df, state


def read_jdbc_distributed(
    spark: SparkSession,
    shards: list[dict],
    columns: list[str] | None = None,
    split_column: str | None = None,
    n_channels_per_shard: int = 1,
    fetch_size: int = 1000,
    inc_column: str | None = None,
    inc_type: str = "bigint",
    start_locations: dict | None = None,
    use_max_func: bool = True,
    shard_col: str | None = "_shard",
) -> tuple[DataFrame, dict]:
    """Distributed multi-shard JDBC read — the reference's
    DistributedJdbcInputFormat (flinkx-rdb/.../DistributedJdbcInputFormat
    .java:103-161): one logical reader drains a LIST of shard
    DataSources, each `{url, table, [user, password, driver, where]}`
    (built from reader.parameter.connection[].jdbcUrl[] × table[],
    DistributedJdbcDataReader).

    Spark-first translation: the reference drains shards SEQUENTIALLY
    per channel; here every shard contributes its own set of scan
    partitions (split predicates per shard) to one union-all plan, so
    shards are read CONCURRENTLY across executors — same coverage
    contract (each source row exactly once), strictly better parallelism
    at 1000-executor scale, and no shuffle (union is partition-preserving).

    Incremental state is per shard: ``start_locations[shard_id]`` seeds
    each shard's window and the returned state carries
    ``{"shards": {shard_id: {"endLocation": ...}}}`` — the per-shard
    offset lineage FormatState keeps in the reference.

    ``shard_col`` (None to omit) tags rows with their shard id — the
    channel-tag analog, letting downstream audits prove exactly-once
    coverage per shard.
    """
    if not shards:
        raise ValueError("read_jdbc_distributed needs at least one shard")
    frames = []
    state: dict = {"shards": {}}
    starts = start_locations or {}
    for i, sh in enumerate(shards):
        sid = str(sh.get("id", i))
        df, st = read_jdbc(
            spark,
            sh["url"],
            sh["table"],
            driver=sh.get("driver"),
            user=sh.get("user"),
            password=sh.get("password"),
            columns=columns,
            where=sh.get("where"),
            split_column=split_column,
            n_channels=n_channels_per_shard,
            fetch_size=fetch_size,
            inc_column=inc_column,
            inc_type=inc_type,
            start_location=starts.get(sid),
            use_max_func=use_max_func,
        )
        if shard_col:
            from pyspark.sql import functions as F

            df = df.withColumn(shard_col, F.lit(sid))
        frames.append(df)
        state["shards"][sid] = st
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out, state


# ------------------------------------------------------------------ write

def _staging_types(df: DataFrame, varchar_len: int = 4000) -> str | None:
    """createTableColumnTypes mapping string columns to VARCHAR — some
    embedded dialects (Derby) default strings to CLOB, which their own
    set-based SQL then chokes on."""
    parts = [
        # backtick-quoted for Spark's DDL parser: column names out of
        # the input_hint row shape include SQL reserved words (commit)
        f"`{f.name}` VARCHAR({varchar_len})"
        for f in df.schema.fields
        if f.dataType.simpleString() == "string"
    ]
    return ", ".join(parts) if parts else None


def _qid(name: str) -> str:
    """Delimited identifier: the columns here come from our uppercased
    staging frames, so quoting is always safe and keeps reserved words
    (a source-code-repo row has a ``commit`` column!) usable — quoted
    UPPER matches Derby/ANSI fold-to-upper unquoted DDL."""
    return '"' + name.replace('"', '""') + '"'


def staged_upsert_statements(
    table: str, staging: str, columns: list[str], pk: list[str]
) -> list[str]:
    """Portable set-based upsert from a staged table: UPDATE matching
    rows, INSERT the rest. Equivalent final state to the reference's
    per-row ON-DUPLICATE/MERGE loop (EWriteMode UPDATE), in two
    statements total."""
    non_pk = [c for c in columns if c not in pk]
    on = " AND ".join(f"s.{_qid(c)} = t.{_qid(c)}" for c in pk)
    sets = ", ".join(
        f"{_qid(c)} = (SELECT s.{_qid(c)} FROM {staging} s WHERE "
        + " AND ".join(f"s.{_qid(k)} = {table}.{_qid(k)}" for k in pk)
        + ")"
        for c in non_pk
    )
    stmts = []
    if non_pk:
        stmts.append(
            f"UPDATE {table} SET {sets} WHERE EXISTS "
            f"(SELECT 1 FROM {staging} s WHERE "
            + " AND ".join(f"s.{_qid(k)} = {table}.{_qid(k)}" for k in pk)
            + ")"
        )
    cols = ", ".join(_qid(c) for c in columns)
    sel = ", ".join(f"s.{_qid(c)}" for c in columns)
    stmts.append(
        f"INSERT INTO {table} ({cols}) SELECT {sel} FROM {staging} s "
        f"WHERE NOT EXISTS (SELECT 1 FROM {table} t WHERE {on})"
    )
    return stmts


def _stage_frame(df: DataFrame, url: str, staging: str, props: dict) -> None:
    """Distributed bulk-load into a staging table. Derby folds unquoted
    identifiers to UPPER while Spark quotes the exact case it's given —
    uppercase the staging frame so the driver-side unquoted SQL resolves
    against it on any fold-to-upper dialect."""
    up = df.toDF(*[c.upper() for c in df.columns])
    w = up.write.format("jdbc").option("url", url).option("dbtable", staging)
    types = _staging_types(up)
    if types:
        w = w.option("createTableColumnTypes", types)
    for k, v in props.items():
        w = w.option(k, v)
    w.mode("overwrite").save()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "insert",
    pk: list[str] | None = None,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    batch_size: int = 1000,
    staging_table: str | None = None,
) -> None:
    """insert → distributed append; upsert/replace → distributed staging
    load + one driver-side set-based upsert (same final state as the
    reference's REPLACE/ON-DUPLICATE row loop, JdbcOutputFormat.java:
    290-334). Deletes the staging table afterwards."""
    props = {"batchsize": str(batch_size)}
    if driver:
        props["driver"] = driver
    if user is not None:
        props["user"] = user
        props["password"] = password or ""

    if mode == "insert":
        df.write.jdbc(url, table, mode="append", properties=props)
        return
    if mode not in ("upsert", "replace", "update"):
        raise ValueError(f"unknown jdbc writeMode {mode!r}")
    if not pk:
        raise ValueError("upsert/replace needs a pk (updateKey)")
    staging = staging_table or f"{table}_cj_stage"
    _stage_frame(df, url, staging, props)
    try:
        execute_sql(
            spark=df.sparkSession,
            url=url,
            statements=staged_upsert_statements(
                table, staging, [c.upper() for c in df.columns],
                [c.upper() for c in pk],
            ),
            driver=driver, user=user, password=password,
        )
    finally:
        try:
            execute_sql(df.sparkSession, url, [f"DROP TABLE {staging}"],
                        driver, user, password)
        except Exception:
            pass  # stage left behind is harmless; next run overwrites it


# ------------------------------------------------------- exactly-once sink

AUDIT_TABLE = "CHUNJUN_BATCHES"


def _qlit(s: str) -> str:
    return "'" + str(s).replace("'", "''") + "'"


def ensure_audit_table(
    spark: SparkSession, url: str,
    driver: str | None = None, user: str | None = None,
    password: str | None = None,
) -> None:
    """Create the per-database batch-lineage table if absent — the JDBC
    sink's analog of the lake manifest's ``lineage`` map."""
    try:
        execute_sql(
            spark, url,
            [
                f"CREATE TABLE {AUDIT_TABLE} ("
                "JOB_ID VARCHAR(128) NOT NULL, "
                "BATCH_ID VARCHAR(128) NOT NULL, "
                "APPLIED_AT TIMESTAMP DEFAULT CURRENT_TIMESTAMP, "
                "PRIMARY KEY (JOB_ID, BATCH_ID))"
            ],
            driver, user, password,
        )
    except Exception:
        pass  # already exists (no portable IF NOT EXISTS across dialects)


def batch_applied(
    spark: SparkSession, url: str, job_id: str, batch_id: str,
    driver: str | None = None, user: str | None = None,
    password: str | None = None,
) -> bool:
    n = query_scalar(
        spark, url,
        f"SELECT COUNT(*) FROM {AUDIT_TABLE} "
        f"WHERE JOB_ID = {_qlit(job_id)} AND BATCH_ID = {_qlit(batch_id)}",
        driver, user, password,
    )
    return bool(n)


def any_batch_applied(
    spark: SparkSession, url: str, job_id: str,
    driver: str | None = None, user: str | None = None,
    password: str | None = None,
) -> bool:
    """Has THIS job applied any batch to this target yet? The restart
    detector for run-once side-effect SQL: a streaming relay's preSql
    must execute on the first attempt only — a crash-restart resuming
    committed progress must not re-run a TRUNCATE over applied rows
    (VERDICT r3 #8; the batch path's replayed-batch skip is the same
    contract per batch, job.py)."""
    n = query_scalar(
        spark, url,
        f"SELECT COUNT(*) FROM {AUDIT_TABLE} "
        f"WHERE JOB_ID = {_qlit(job_id)}",
        driver, user, password,
    )
    return bool(n)


def write_jdbc_exactly_once(
    df: DataFrame,
    url: str,
    table: str,
    job_id: str,
    batch_id: str,
    mode: str = "upsert",
    pk: list[str] | None = None,
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    batch_size: int = 1000,
    staging_table: str | None = None,
) -> dict:
    """Exactly-once JDBC apply: the reference's ``semantic=exactly-once``
    (XA per-channel two-phase commit, JdbcOutputFormat commit protocol)
    re-expressed set-based.

    Protocol: (1) if (job_id, batch_id) is already in ``CHUNJUN_BATCHES``
    → skip (replayed micro-batch after restart); (2) bulk-load the batch
    into a staging table (distributed, restartable — staging is
    overwrite-idempotent); (3) run data apply + batch-marker INSERT as
    ONE driver-side transaction. A crash before the commit applies
    nothing; after it, the replay hits the skip path — so a micro-batch
    lands in the target database exactly once even for the
    non-idempotent ``insert`` mode.
    """
    if mode not in ("insert", "upsert", "replace", "update"):
        raise ValueError(f"unknown jdbc writeMode {mode!r}")
    if mode != "insert" and not pk:
        raise ValueError("upsert/replace needs a pk (updateKey)")
    ensure_audit_table(df.sparkSession, url, driver, user, password)
    if batch_applied(df.sparkSession, url, job_id, batch_id,
                     driver, user, password):
        return {"skipped": True, "batch_id": batch_id}

    props = {"batchsize": str(batch_size)}
    if driver:
        props["driver"] = driver
    if user is not None:
        props["user"] = user
        props["password"] = password or ""
    staging = staging_table or f"{table}_cj_stage"
    _stage_frame(df, url, staging, props)
    cols = [c.upper() for c in df.columns]
    if mode == "insert":
        # delimited identifiers: the input row shape carries reserved
        # words ("commit"), same as staged_upsert_statements
        collist = ", ".join(_qid(c) for c in cols)
        stmts = [
            f"INSERT INTO {table} ({collist}) "
            f"SELECT {collist} FROM {staging}"
        ]
    else:
        stmts = staged_upsert_statements(
            table, staging, cols, [c.upper() for c in (pk or [])]
        )
    stmts.append(
        f"INSERT INTO {AUDIT_TABLE} (JOB_ID, BATCH_ID) "
        f"VALUES ({_qlit(job_id)}, {_qlit(batch_id)})"
    )
    try:
        execute_sql(df.sparkSession, url, stmts, driver, user, password)
    finally:
        try:
            execute_sql(df.sparkSession, url, [f"DROP TABLE {staging}"],
                        driver, user, password)
        except Exception:
            pass  # stage left behind is harmless; next run overwrites it
    return {"skipped": False, "batch_id": batch_id, "n_statements": len(stmts)}


_RELAY_DDL_TYPES = {
    "int": "INT", "integer": "INT", "bigint": "BIGINT", "long": "BIGINT",
    "double": "DOUBLE", "float": "REAL", "boolean": "BOOLEAN",
    "string": "VARCHAR(4000)", "timestamp": "TIMESTAMP", "date": "DATE",
}


def relay_apply_ddl(
    spark,
    url: str,
    table: str,
    ddl_rows: list[dict],
    driver: str | None,
    user: str | None,
    password: str | None,
) -> None:
    """Schema-evolution DDL forwarded to the JDBC target as idempotent
    statements (an action already reflected in the target schema is a
    replayed batch → skip): add_column / rename_column / drop_column
    directly; widen_type via the portable add-copy-drop-rename recipe
    (Derby's ALTER COLUMN SET DATA TYPE only grows VARCHARs, so numeric
    widening must rebuild the column — the same rewrite MySQL's ALTER
    does behind the scenes). Each widen step is individually resumable:
    a crash between statements leaves a state the re-run recognizes and
    finishes. Unknown actions raise loudly: silently dropping DDL would
    desync relay and source schemas without anyone noticing."""
    import json as _json

    from pyspark.sql import types as _T

    _SPARK_TYPES = {
        "int": _T.IntegerType(), "integer": _T.IntegerType(),
        "bigint": _T.LongType(), "long": _T.LongType(),
        "double": _T.DoubleType(), "float": _T.FloatType(),
        "boolean": _T.BooleanType(), "string": _T.StringType(),
        "timestamp": _T.TimestampType(), "date": _T.DateType(),
    }

    def _schema():
        reader = spark.read.format("jdbc").option("url", url).option(
            "dbtable", table)
        if driver:
            reader = reader.option("driver", driver)
        if user is not None:
            reader = reader.option("user", user).option(
                "password", password or "")
        return {f.name.lower(): f.dataType for f in reader.load().schema.fields}

    def _sql(stmts):
        execute_sql(spark, url, stmts, driver, user, password)

    def _ddl_type(name):
        t = _RELAY_DDL_TYPES.get(name.lower())
        if t is None:
            raise ValueError(f"no JDBC type mapping for {name!r}")
        return t

    from chunjun_spark.operators.ddl import final_column_name

    existing = _schema()
    rows = sorted(ddl_rows, key=lambda d: (d["op_ts"], d["seq"]))
    specs = [{k: (v.lower() if isinstance(v, str) else v)
              for k, v in _json.loads(r["ddl"]).items()} for r in rows]
    for i, r in enumerate(rows):
        spec = _json.loads(r["ddl"])
        action = spec["action"]
        if action == "add_column":
            # re-delivery idempotence: a LATER action in this same
            # ordered window may have renamed (or dropped) the added
            # column — check presence under its FINAL name (None =
            # added-then-dropped, a net no-op either delivery)
            final = final_column_name(spec["name"].lower(), specs[i + 1:])
            if final is None or final in existing:
                continue
            _sql([f"ALTER TABLE {table} ADD COLUMN "
                  f"{_qid(spec['name'].upper())} {_ddl_type(spec['type'])}"])
            existing[spec["name"].lower()] = _SPARK_TYPES[spec["type"].lower()]
        elif action == "rename_column":
            old, new = spec["old"].lower(), spec["new"].lower()
            if old not in existing:
                # replayed batch: already renamed — possibly renamed
                # AGAIN by a later action in this same ordered window,
                # so `new` may be gone too. A vanished source column in
                # a totally-ordered changelog always means superseded
                # (the first delivery would have failed on corrupt DDL).
                continue
            _sql([f"RENAME COLUMN {table}.{_qid(old.upper())} "
                  f"TO {_qid(new.upper())}"])
            existing[new] = existing.pop(old)
        elif action == "drop_column":
            name = spec["name"].lower()
            if name not in existing:
                continue
            _sql([f"ALTER TABLE {table} DROP COLUMN "
                  f"{_qid(name.upper())} RESTRICT"])
            del existing[name]
        elif action == "widen_type":
            name = spec["name"].lower()
            target = _SPARK_TYPES[spec["type"].lower()]
            tmp = f"{name}__widen".lower()
            if existing.get(name) == target:
                # replayed batch — but finish a crash-orphaned tmp first
                if tmp in existing:
                    _sql([f"ALTER TABLE {table} DROP COLUMN "
                          f"{_qid(tmp.upper())} RESTRICT"])
                    del existing[tmp]
                continue
            if name not in existing and tmp in existing:
                # crashed between DROP old and RENAME: values live in tmp
                _sql([f"RENAME COLUMN {table}.{_qid(tmp.upper())} "
                      f"TO {_qid(name.upper())}"])
                existing[name] = existing.pop(tmp)
                continue
            if name not in existing:
                # replayed batch whose column a LATER action in this
                # ordered window renamed/dropped — superseded, skip
                continue
            stmts = []
            if tmp in existing:  # crashed mid-copy: redo from scratch
                stmts.append(f"ALTER TABLE {table} DROP COLUMN "
                             f"{_qid(tmp.upper())} RESTRICT")
            stmts += [
                f"ALTER TABLE {table} ADD COLUMN "
                f"{_qid(tmp.upper())} {_ddl_type(spec['type'])}",
                f"UPDATE {table} SET {_qid(tmp.upper())} = "
                f"{_qid(name.upper())}",
                f"ALTER TABLE {table} DROP COLUMN "
                f"{_qid(name.upper())} RESTRICT",
                f"RENAME COLUMN {table}.{_qid(tmp.upper())} "
                f"TO {_qid(name.upper())}",
            ]
            _sql(stmts)
            existing.pop(tmp, None)
            existing[name] = target
        else:
            raise ValueError(
                f"jdbc relay cannot apply DDL action {action!r}; "
                f"evolve the target out of band"
            )


def apply_changelog_jdbc_exactly_once(
    events: DataFrame,
    url: str,
    table: str,
    job_id: str,
    batch_id: str,
    pk: list[str],
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    batch_size: int = 1000,
    staging_table: str | None = None,
    _precheck_done: bool = False,
    pre_folded: bool = False,
) -> dict:
    """CDC apply: fold a changelog window (EVENT_SCHEMA) to its net
    per-key effect and land it in a JDBC target exactly once — the
    reference's core binlog → JDBC restore-mode sync
    (JdbcOutputFormat.java:290-390 insert/update/delete row loop under
    the XA commit protocol), re-expressed set-based.

    keep_last picks one winner per key over (op_ts, seq); DELETE winners
    delete, everything else upserts. Both staged distributed, then
    applied with the batch marker in ONE driver transaction — a replayed
    batch_id is a no-op, so chained hops (binlog → lake → JDBC mart) are
    each exactly-once.
    """
    from chunjun_spark.operators.dedup import keep_last
    from chunjun_spark.operators.merge import events_with_pk

    if not pk:
        raise ValueError("changelog apply needs a pk (updateKey)")
    spark = events.sparkSession
    if not _precheck_done:
        # callers that already ran the marker check (to guard preSql)
        # pass _precheck_done to skip two redundant driver round trips
        ensure_audit_table(spark, url, driver, user, password)
        if batch_applied(spark, url, job_id, batch_id,
                         driver, user, password):
            return {"skipped": True, "batch_id": batch_id}

    if pre_folded:
        # fan-out path: the caller folded ONCE (keep_last over
        # events_with_pk, already materialized) and shares the winners
        # across sinks — don't re-fold or re-checkpoint here
        winners = events
    else:
        if "op" in events.columns:
            # control rows are not data: an un-admitted frame (batch job
            # path) folding a DDL/ERROR/DECODE_ERROR row would upsert a
            # NULL-pk winner — callers that ran admission already
            # stripped these (DECODE_ERROR added r5 with the redo-wire
            # decode-failure class)
            events = events.filter(
                ~F.col("op").isin("DDL", "ERROR", "DECODE_ERROR")
            )
        keyed = events_with_pk(events, pk)
        winners = keep_last(keyed, pk=pk, order=("op_ts", "seq"))
        # two consumers (upsert side, delete side) — cut the plan so the
        # winner aggregate runs once, not once per staged write
        winners = winners.localCheckpoint(eager=True)
    is_del = F.col("op") == "DELETE"
    upserts = winners.filter(~is_del).select("after.*")
    deletes = winners.filter(is_del).select(*pk)

    props = {"batchsize": str(batch_size)}
    if driver:
        props["driver"] = driver
    if user is not None:
        props["user"] = user
        props["password"] = password or ""
    staging = staging_table or f"{table}_cj_stage"
    staging_del = f"{staging}_del"
    _stage_frame(upserts, url, staging, props)
    _stage_frame(deletes, url, staging_del, props)

    cols = [c.upper() for c in upserts.columns]
    pk_up = [c.upper() for c in pk]
    on_del = " AND ".join(f"s.{_qid(k)} = {table}.{_qid(k)}" for k in pk_up)
    stmts = [
        f"DELETE FROM {table} WHERE EXISTS "
        f"(SELECT 1 FROM {staging_del} s WHERE {on_del})"
    ]
    stmts += staged_upsert_statements(table, staging, cols, pk_up)
    stmts.append(
        f"INSERT INTO {AUDIT_TABLE} (JOB_ID, BATCH_ID) "
        f"VALUES ({_qlit(job_id)}, {_qlit(batch_id)})"
    )
    try:
        counts = execute_sql(spark, url, stmts, driver, user, password)
    finally:
        for st in (staging, staging_del):
            try:
                execute_sql(spark, url, [f"DROP TABLE {st}"],
                            driver, user, password)
            except Exception:
                pass  # stage left behind is harmless; next run overwrites
    return {
        "skipped": False,
        "batch_id": batch_id,
        "n_deleted": max(counts[0], 0),
        # rows THIS apply touched (deletes + updates + inserts; the
        # trailing audit-marker INSERT excluded) — the numWrite metric
        "n_changes": sum(max(c, 0) for c in counts[:-1]),
        "n_statements": len(stmts),
    }


# --------------------------------------------------------------- polling

def poll_incremental(
    spark: SparkSession,
    url: str,
    table: str,
    inc_column: str,
    start_location,
    apply_batch,
    inc_type: str = "bigint",
    driver: str | None = None,
    user: str | None = None,
    password: str | None = None,
    poll_interval_sec: float = 1.0,
    max_polls: int | None = None,
    max_empty_polls: int | None = None,
    columns: list[str] | None = None,
    where: str | None = None,
    split_column: str | None = None,
    n_channels: int = 1,
) -> dict:
    """Interval polling: the continuous-ingest mode for non-CDC databases
    (JdbcInputFormat.java:181-227,842-960 — drained incremental source
    sleeps pollingInterval, re-issues ``col > last_max``).

    Each poll pins ``end = MAX(inc_column)``, reads the (start, end]
    window with the full split plan, hands the batch to ``apply_batch
    (df, poll_state)`` and advances the offset — per-partition lineage is
    the (start, end] window itself, so a crash resumes from the last
    APPLIED offset (apply_batch commits it transactionally downstream,
    e.g. LakeTable batch ids).

    Stops after ``max_polls`` total or ``max_empty_polls`` consecutive
    empty windows (None = run forever, the reference default).
    """
    import time as _time

    offset = start_location
    polls = empty = applied = 0
    while True:
        if max_polls is not None and polls >= max_polls:
            break
        polls += 1
        df, state = read_jdbc(
            spark, url, table, driver=driver, user=user, password=password,
            columns=columns, where=where, split_column=split_column,
            n_channels=n_channels, inc_column=inc_column, inc_type=inc_type,
            start_location=offset, use_max_func=True,
        )
        end = state.get("endLocation")
        if end is None or str(end) == str(offset):
            empty += 1
            if max_empty_polls is not None and empty >= max_empty_polls:
                break
            _time.sleep(poll_interval_sec)
            continue
        empty = 0
        apply_batch(df, {"startLocation": offset, "endLocation": end,
                         "poll": polls})
        offset = end
        applied += 1
    return {"polls": polls, "applied_windows": applied, "endLocation": offset}
