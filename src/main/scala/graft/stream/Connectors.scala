package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import java.util.Properties

/** Source/sink builders for the reference's external endpoints —
  * Kafka (S10/S11, `dl/src/big_data/streaming_processor.py:63-76,
  * 331-352`) and JDBC (S8/S9, `streaming_processor.py:131-169`,
  * `dl/src/etl/pipeline.py:161-203`).
  *
  * The payload encode/decode steps are pure `DataFrame => DataFrame`
  * transforms, so they are unit-tested in batch (ConnectorsSpec) even
  * though this environment has no Kafka broker; the stream builders
  * assemble the exact `format("kafka")` plans a deployment runs. The
  * JDBC seam is exercised for real against embedded Derby.
  *
  * WHY no end-to-end Kafka test (adjudicated blocker, spec-pinned in
  * ConnectorsSpec): the build environment ships zero Kafka artifacts —
  * `/opt/spark/jars` (287 jars) has neither
  * `org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2` (the
  * `format("kafka")` provider) nor
  * `org.apache.spark:spark-token-provider-kafka-0-10_2.13:4.1.2` nor
  * `org.apache.kafka:kafka-clients`, the offline coursier cache holds
  * no Kafka coordinates, and an embedded broker would additionally
  * need the `org.apache.kafka:kafka_2.13` server artifact. With
  * COURSIER_MODE=offline and no network egress, none of the four can
  * be resolved. On a deployment classpath that carries the standard
  * spark-sql-kafka bundle, [[readEventStream]]/[[writeEventStream]]
  * run as-is — they only assemble options around the stock source.
  */
object Connectors {

  /** JSON schema of the Kafka event payload — the T1 envelope aligned
    * with the events table.
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Kafka wire → typed events: parse the JSON value with the declared
    * schema (no inference) and flatten. Works identically on a batch
    * frame and a `readStream` frame.
    */
  def decodeKafkaEvents(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), eventSchema).as("e"))
      .select("e.*")

  /** Typed events → Kafka wire: key by event_id (stable partitioning
    * by event identity on the topic), value as the full-row JSON —
    * the reference's `producer.send(key, json)` shape.
    */
  def encodeEventsForKafka(events: DataFrame): DataFrame =
    events.select(
      col("event_id").cast("string").as("key"),
      to_json(struct(events.columns.map(col): _*)).as("value"))

  /** Kafka consumer source (S11): subscribe → decode → typed event
    * stream. `startingOffsets=latest` mirrors the reference consumer's
    * `auto_offset_reset='latest'`.
    */
  def readEventStream(spark: SparkSession, bootstrapServers: String,
                      topic: String,
                      startingOffsets: String = "latest"): DataFrame =
    decodeKafkaEvents(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("subscribe", topic)
        .option("startingOffsets", startingOffsets)
        .load())

  /** Kafka producer sink (S10): encode → `writeStream.format("kafka")`.
    * Caller `.start()`s it; the checkpoint gives exactly-once-per-batch
    * delivery into the topic.
    */
  def writeEventStream(events: DataFrame, bootstrapServers: String,
                       topic: String,
                       checkpointDir: String): DataStreamWriter[Row] =
    encodeEventsForKafka(events).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** The one-statement incremental poll (see [[readIncremental]]): the
    * tie-safe boundary is a scalar subquery the DATABASE evaluates, so
    * a poll costs one round-trip instead of a boundary probe plus a
    * batch read. `{ts '...'}` is the JDBC escape every driver rewrites
    * to its native timestamp literal; `FETCH FIRST n ROWS ONLY` is the
    * ANSI row-limit form (Derby, Postgres, Oracle, SQL Server ≥2012).
    * The watermark column is double-quoted verbatim — Spark's JDBC
    * writer creates case-exact quoted columns, so an unquoted name
    * would case-normalize away from them. Identifiers come from
    * deployment config, not user input — they are interpolated, not
    * bound.
    */
  def incrementalQuerySql(table: String, watermarkCol: String,
                          lastSeen: java.sql.Timestamp, batchSize: Int): String = {
    val last = s"{ts '${lastSeen.toString}'}"
    val wm = "\"" + watermarkCol + "\""
    s"""SELECT t.* FROM $table t
       |WHERE t.$wm > $last AND t.$wm <= (
       |  SELECT MAX(b.$wm) FROM (
       |    SELECT $wm FROM $table WHERE $wm > $last
       |    ORDER BY $wm ASC FETCH FIRST $batchSize ROWS ONLY) AS b)""".stripMargin
  }

  /** JDBC incremental watermark poll (S9): rows strictly newer than the
    * last-seen watermark, oldest first, one bounded batch — the
    * reference's `WHERE created_at > :last ORDER BY created_at LIMIT
    * :batch` every 10 s, as ONE database query: the tie-safe batch
    * boundary rides a scalar subquery inside the same statement
    * ([[incrementalQuerySql]]), so per poll the database sees a single
    * data query (plus Spark's zero-row schema probe at planning).
    *
    * Tie safety: the batch is extended to the timestamp boundary — every
    * row sharing the batch's max watermark value is included even past
    * `batchSize` (the reference's literal `LIMIT :batch` silently LOSES
    * rows when ties straddle the cut: the caller advances the cursor to
    * the boundary value and the strict `>` never revisits the tied rows
    * the limit dropped). Advancing `lastSeen` to the returned frame's
    * max watermark is therefore always safe.
    */
  def readIncremental(spark: SparkSession, url: String, table: String,
                      watermarkCol: String, lastSeen: java.sql.Timestamp,
                      batchSize: Int,
                      props: Properties = new Properties()): DataFrame = {
    val reader = spark.read.format("jdbc")
      .option("url", url)
      .option("query", incrementalQuerySql(table, watermarkCol, lastSeen, batchSize))
    props.stringPropertyNames().forEach { k =>
      reader.option(k, props.getProperty(k)); ()
    }
    reader.load().orderBy(col(watermarkCol).asc)
  }

  /** JDBC bulk append sink (S8): the staging-table bulk insert.
    * Each partition writes through its own connection in batched
    * statements — the distributed counterpart of the reference's
    * chunked `to_sql(..., method='multi')`.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
                props: Properties = new Properties()): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Exactly-once JDBC micro-batch sink: stage → publish, with the
    * epoch claim as the COMMIT POINT. Structured Streaming guarantees
    * at-least-once delivery to foreachBatch — after a crash between the
    * JDBC commit and the checkpoint advance, the SAME (queryName,
    * batchId) is re-delivered and a plain append would double-insert.
    *
    * Protocol per batch:
    *   1. Fast-path skip if `(queryName, batchId)` is already claimed
    *      in `<table>_epochs` (primary-keyed guard table).
    *   2. Partitions append the batch IN PARALLEL through their own
    *      connections to `<table>_stage`, tagged with
    *      (query, batch, attempt-UUID) — the scale path: no
    *      driver-collected data write.
    *   3. ONE driver-side transaction: INSERT the epoch row, then
    *      `INSERT INTO target SELECT ... FROM stage WHERE attempt = ?`,
    *      then COMMIT. The data move is database-internal set work.
    *
    * Because claim + publish share a transaction, the driver-level
    * crash windows are safe: before the commit, the target holds no
    * batch rows and the epoch is unclaimed → the re-delivered batch
    * re-stages (fresh attempt id orphans any partial prior staging)
    * and publishes; after the commit, the data is already in the
    * target and the replay is skipped at step 1. A concurrent
    * duplicate attempt loses the epoch-key race and its whole
    * transaction — including its data insert — rolls back, so exactly
    * one attempt ever commits. The earlier claim-then-write design
    * could silently drop a batch when the data write failed after the
    * claim committed; here no orphan epoch row can exist.
    *
    * Task retries are idempotent too: each partition stages inside its
    * OWN transaction that first deletes any rows already staged under
    * this (attempt, partition) pair, then inserts ([[stageBatch]]). A
    * task that committed its stage rows and then died is retried, and
    * the retry's leading DELETE removes the first try's rows before
    * re-inserting — the publish SELECT can never see a partition's
    * rows twice. (A plain `df.write.jdbc` append lacked this: the
    * retried task appended a second copy under the same attempt id.)
    */
  def exactlyOnceJdbcSink(url: String, table: String, queryName: String,
                          props: Properties = new Properties())
      : (DataFrame, Long) => Unit = {
    ensureEpochTable(url, table, props)
    (batch: DataFrame, batchId: Long) => {
      if (!epochClaimed(url, table, queryName, batchId, props)) {
        val stage = s"${table}_stage"
        val attempt = java.util.UUID.randomUUID().toString
        stageBatch(batch, url, stage, queryName, batchId, attempt, props)
        // the publish INSERT..SELECT needs the target to exist; a
        // zero-row append creates it idempotently with matching columns
        appendRaceSafe(batch.limit(0), url, table, props)
        publishStaged(url, table, stage, queryName, batchId, attempt,
          batch.columns.toSeq, props)
      }
      clearStage(url, s"${table}_stage", queryName, batchId, props)
    }
  }

  /** Quote an identifier for the database behind `url` via Spark's
    * dialect registry — backticks on MySQL, double quotes on
    * Derby/Postgres/ANSI — so generated SQL is portable across the
    * drivers [[isDuplicateKey]]/[[isTableExists]] already handle.
    */
  private def quoteId(url: String, ident: String): String =
    org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(ident)

  /** Stage a batch's partitions into `stage` in parallel, each
    * partition in its own transaction that DELETEs any rows already
    * staged under this (attempt, partition) before inserting — the
    * partition-scoped idempotence that makes Spark task retries safe
    * (a retried task first erases its dead predecessor's rows).
    * The table itself is created idempotently by a zero-row Spark
    * append so its column types match Spark's JDBC mapping.
    *
    * REQUIRES `spark.speculation=false` (the default): delete-then-
    * insert is only idempotent when attempts of the same partition run
    * sequentially. Two CONCURRENT tasks for one (attempt, partition) —
    * a speculative duplicate or a zombie whose driver gave up on it —
    * can interleave so both transactions commit (B's DELETE commits
    * before A's INSERT does), doubling that partition's rows under the
    * same tag. Retries driven by ordinary task failure are sequential
    * and remain safe.
    */
  private[graft] def stageBatch(batch: DataFrame, url: String, stage: String,
                         queryName: String, batchId: Long, attempt: String,
                         props: Properties): Unit = {
    val tagged = batch
      .withColumn("_query_name", lit(queryName))
      .withColumn("_batch_id", lit(batchId))
      .withColumn("_attempt", lit(attempt))
    // `_part` is bound IN-TASK from TaskContext — never as a
    // `spark_partition_id()` column. The column form can be evaluated
    // with a partition index that differs from the foreachPartition
    // task's (e.g. when the optimizer folds a local relation), and a
    // mismatch is destructive here: the per-partition DELETE would
    // erase rows another task committed under the same tag. Deriving
    // the tag and the DELETE key from the one TaskContext value makes
    // them consistent by construction.
    appendRaceSafe(tagged.withColumn("_part", lit(0)).limit(0), url, stage, props)
    val cols = tagged.columns.toSeq :+ "_part"
    val insertSql = s"INSERT INTO $stage (${cols.map(quoteId(url, _)).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val deleteSql = s"DELETE FROM $stage " +
      s"WHERE CAST(${quoteId(url, "_attempt")} AS VARCHAR(64)) = ? AND ${quoteId(url, "_part")} = ?"
    val jdbcTypes = tagged.schema.fields.map(f => f.dataType match {
      case LongType                    => java.sql.Types.BIGINT
      case IntegerType                 => java.sql.Types.INTEGER
      case ShortType                   => java.sql.Types.SMALLINT
      case DoubleType                  => java.sql.Types.DOUBLE
      case FloatType                   => java.sql.Types.REAL
      case BooleanType                 => java.sql.Types.BOOLEAN
      case TimestampType               => java.sql.Types.TIMESTAMP
      case DateType                    => java.sql.Types.DATE
      case _: DecimalType              => java.sql.Types.DECIMAL
      case BinaryType                  => java.sql.Types.BINARY
      case _                           => java.sql.Types.VARCHAR
    })
    tagged.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val del = conn.prepareStatement(deleteSql)
          try { del.setString(1, attempt); del.setInt(2, pid); del.executeUpdate(); () }
          finally del.close()
          val ins = conn.prepareStatement(insertSql)
          try {
            var pending = 0
            rows.foreach { r =>
              var i = 0
              while (i < jdbcTypes.length) {
                val v = r.get(i)
                if (v == null) ins.setNull(i + 1, jdbcTypes(i))
                else ins.setObject(i + 1, v)
                i += 1
              }
              ins.setInt(jdbcTypes.length + 1, pid)
              ins.addBatch(); pending += 1
              if (pending >= 500) { ins.executeBatch(); pending = 0 }
            }
            if (pending > 0) ins.executeBatch()
            ()
          } finally ins.close()
          conn.commit()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: java.sql.SQLException => () }
            throw e
        } finally conn.close()
      }
    }
  }

  /** Create the epoch-guard table if absent (primary key = the guard). */
  def ensureEpochTable(url: String, table: String,
                       props: Properties = new Properties()): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE ${table}_epochs (
           |  query_name VARCHAR(128) NOT NULL,
           |  batch_id BIGINT NOT NULL,
           |  PRIMARY KEY (query_name, batch_id))""".stripMargin)
      catch { case _: java.sql.SQLException => () } // already exists
      finally st.close()
    } finally conn.close()
  }

  /** True ⇔ (queryName, batchId) already published (replay fast path). */
  def epochClaimed(url: String, table: String, queryName: String,
                   batchId: Long, props: Properties = new Properties()): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val ps = conn.prepareStatement(
        s"SELECT 1 FROM ${table}_epochs WHERE query_name = ? AND batch_id = ?")
      try {
        ps.setString(1, queryName); ps.setLong(2, batchId)
        val rs = ps.executeQuery(); try rs.next() finally rs.close()
      } finally ps.close()
    } finally conn.close()
  }

  /** Unique-key violation across drivers: the dedicated exception class
    * (Derby) OR SQLState class 23 (integrity constraint violation —
    * Postgres, MySQL, SQLite signal duplicates this way without
    * extending SQLIntegrityConstraintViolationException).
    */
  private[graft] def isDuplicateKey(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLIntegrityConstraintViolationException] ||
      (e.getSQLState != null && e.getSQLState.startsWith("23"))

  /** Atomic publish: claim the epoch and move this attempt's staged
    * rows into the target in ONE transaction. Returns false (rolling
    * everything back) iff another attempt already claimed the epoch.
    * Column lists are resolved from each table's actual metadata and
    * matched case-insensitively — the target may pre-exist with a
    * different identifier case than the Spark-created stage table.
    */
  private def publishStaged(url: String, table: String, stage: String,
                            queryName: String, batchId: Long, attempt: String,
                            dataCols: Seq[String], props: Properties): Boolean = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      conn.setAutoCommit(false)
      try {
        val claim = conn.prepareStatement(
          s"INSERT INTO ${table}_epochs (query_name, batch_id) VALUES (?, ?)")
        try { claim.setString(1, queryName); claim.setLong(2, batchId); claim.executeUpdate() }
        finally claim.close()
        val targetByLower = tableColumns(conn, table).map(c => c.toLowerCase -> c).toMap
        val stageByLower = tableColumns(conn, stage).map(c => c.toLowerCase -> c).toMap
        def resolve(m: Map[String, String], c: String, t: String): String =
          m.getOrElse(c.toLowerCase,
            throw new IllegalStateException(s"column $c missing in $t"))
        val insertList = dataCols.map(c => quoteId(url, resolve(targetByLower, c, table))).mkString(", ")
        val selectList = dataCols.map(c => quoteId(url, resolve(stageByLower, c, stage))).mkString(", ")
        val attemptCol = quoteId(url, resolve(stageByLower, "_attempt", stage))
        // CAST: Derby maps StringType to CLOB, which '=' can't compare
        val mv = conn.prepareStatement(
          s"""INSERT INTO $table ($insertList) SELECT $selectList FROM $stage
             |WHERE CAST($attemptCol AS VARCHAR(64)) = ?""".stripMargin)
        try { mv.setString(1, attempt); mv.executeUpdate() }
        finally mv.close()
        conn.commit(); true
      } catch {
        case e: java.sql.SQLException if isDuplicateKey(e) => conn.rollback(); false
        case e: Throwable => conn.rollback(); throw e
      }
    } finally conn.close()
  }

  /** Stage hygiene: drop all staged rows for a published (or skipped)
    * batch. Pure cleanup — staged rows can never publish once their
    * epoch is claimed — so failures are non-fatal, but they are LOGGED
    * (a silently failing cleanup lets the stage table grow without
    * bound; the next successful pass drains it).
    */
  private def clearStage(url: String, stage: String, queryName: String,
                         batchId: Long, props: Properties): Unit =
    try {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val ps = conn.prepareStatement(
          s"""DELETE FROM $stage
             |WHERE CAST(${quoteId(url, "_query_name")} AS VARCHAR(128)) = ?
             |  AND ${quoteId(url, "_batch_id")} = ?""".stripMargin)
        try { ps.setString(1, queryName); ps.setLong(2, batchId); ps.executeUpdate(); () }
        finally ps.close()
      } finally conn.close()
    } catch {
      case e: java.sql.SQLException =>
        java.util.logging.Logger.getLogger("graft.stream.Connectors").warning(
          s"stage cleanup failed for ($queryName, $batchId) on $stage " +
            s"(rows remain until the next successful pass): ${e.getMessage}")
    }

  /** Append that tolerates a concurrent create of the same table:
    * Spark's append mode does exists-check-then-create, so two racing
    * first appends can both try CREATE TABLE — the loser retries, the
    * table now existing.
    */
  private def appendRaceSafe(df: DataFrame, url: String, table: String,
                             props: Properties): Unit =
    try df.write.mode("append").jdbc(url, table, props)
    catch {
      case e: java.sql.SQLException if isTableExists(e) =>
        df.write.mode("append").jdbc(url, table, props)
    }

  /** 'Table already exists' across drivers: Derby X0Y32, Postgres
    * 42P07, MySQL 42S01, plus the message as a fallback.
    */
  private def isTableExists(e: java.sql.SQLException): Boolean = {
    val st = e.getSQLState
    (st != null && (st == "X0Y32" || st == "42P07" || st == "42S01")) ||
      (e.getMessage != null && e.getMessage.toLowerCase.contains("already exists"))
  }

  /** Actual column names of a table, via a zero-row probe. */
  private def tableColumns(conn: java.sql.Connection, table: String): Seq[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(s"SELECT * FROM $table WHERE 1=0")
      try {
        val md = rs.getMetaData
        (1 to md.getColumnCount).map(md.getColumnName)
      } finally rs.close()
    } finally st.close()
  }

  /** HTTP-poll stream source (S13, `streaming_processor.py:105-129`):
    * the reference GETs a page every 30 s and emits its rows as events.
    * Spark has no HTTP source; the idiomatic re-platforming is a
    * 1-row-per-trigger driver stream whose foreachBatch invokes the
    * pluggable `fetch` (the HTTP-client seam — no egress in this
    * environment, so specs inject a deterministic fake) and hands the
    * page to `sink`. Cadence comes from the trigger, so any tick
    * stream serves, e.g. `spark.readStream.format("rate").load()`;
    * checkpointing makes the poll loop restartable.
    */
  def pollingQuery(ticks: DataFrame, trigger: Trigger, checkpointDir: String,
                   fetch: Long => DataFrame,
                   sink: (DataFrame, Long) => Unit): StreamingQuery =
    ticks.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (_: Dataset[Row], batchId: Long) =>
        sink(fetch(batchId), batchId)
      }
      .start()

  /** KV cache rows (S14, Redis `setex business_analytics:{id} ttl json`,
    * `streaming_processor.py:309-329`): key = prefix + key column,
    * value = full-row JSON.
    */
  def kvPairs(df: DataFrame, keyCol: String, keyPrefix: String): DataFrame =
    df.select(
      concat(lit(keyPrefix), col(keyCol).cast("string")).as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))

  /** KV cache sink (S14) as a foreachBatch hook. `connect` runs once
    * per partition ON THE EXECUTOR and returns the setex function
    * (key, json, ttlSeconds) — a Redis client in production, an
    * in-memory map in specs. Rows stream through the partition
    * iterator; nothing is collected to the driver.
    */
  def cacheSink(keyCol: String, keyPrefix: String, ttlSecs: Int,
                connect: () => (String, String, Int) => Unit): (DataFrame, Long) => Unit =
    (batch, _) =>
      kvPairs(batch, keyCol, keyPrefix).foreachPartition { rows: Iterator[Row] =>
        val setex = connect()
        rows.foreach(r => setex(r.getString(0), r.getString(1), ttlSecs))
      }
}
