package graft.io

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Sinks (reference S3/S4, SURVEY.md §2.1).
  *
  * The reference's DB sink collects every micro-batch to the driver and writes
  * row-at-a-time through JPA (SparkStreamingService.java:262-277) — the known
  * bottleneck (BASELINE.md). The Spark-native sink keeps the write distributed:
  * `foreachBatch` + a partition-parallel writer, with the same `update` output
  * mode + 1 s processing-time trigger + append (historized) semantics.
  */
object Sinks {

  /** Historized stats sink: every micro-batch APPENDS the batch's cumulative
    * snapshot rows (keyed by game `second`) — reference semantics
    * (update mode + append-style sink, SURVEY.md §7.4.6). `write` receives the
    * batch DataFrame and performs the distributed append (JDBC/parquet/Delta —
    * injected so tests can capture batches).
    *
    * Unless the stream's session already names a checkpoint file manager,
    * this sets `spark.sql.streaming.checkpointFileManagerClass` on it to
    * [[graft.util.LocalFsCheckpointFileManager]], so a checkpoint on a local
    * disk forks no process per file (no `readlink`, no `chmod`), also on a
    * session graft did not build. The setting stays on the session; it changes nothing for
    * checkpoints on other schemes. */
  def historizedSink[T](
      stats: Dataset[T],
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      checkpoint: Option[String] = None)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[T] = {
    graft.util.LocalFsCheckpointFileManager.installIfUnset(stats.sparkSession)
    val w = stats.writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (df: Dataset[T], batchId: Long) =>
        write(df.toDF(), batchId)
      }
    checkpoint.fold(w)(p => w.option("checkpointLocation", p))
  }

  /** Distributed JDBC append for a batch — what the reference's collect+JPA
    * loop should have been. Executors write partition-parallel. */
  def jdbcAppend(df: DataFrame, url: String, table: String, props: java.util.Properties): Unit =
    df.write.mode("append").jdbc(url, table, props)

  /** Replay-idempotent JDBC append — effectively-once delivery on top of
    * foreachBatch's at-least-once replay: rows are tagged with the micro-
    * batch id, and a replayed batch first deletes its own previous
    * (possibly partial) attempt before appending. Restart-safe without
    * distributed transactions; pair with a checkpointed query so batch ids
    * are stable across restarts. The delete is a no-op (absent table /
    * nothing matching) on the first attempt. The first call creates the
    * table with Spark's JDBC DDL mapping (`createTableColumnTypes` and
    * `createTableOptions` apply there) and a best-effort index on
    * `"batch_id"`, so the replay delete stays an index seek while the
    * history grows without bound.
    *
    * The rows go in through one prepared `INSERT` per partition, with the
    * frame's columns as case-exact quoted identifiers (the names Spark's
    * DDL created) and `batch_id` bound as a parameter: one connection and
    * one transaction per partition, batches of 1000 rows. A Spark JDBC
    * write per micro-batch would re-plan the write, re-query the table and
    * its schema, and, with the batch id inlined as a literal, compile fresh
    * code every batch. A frame column named `batch_id` is replaced by the
    * tag. Spark JDBC write options the insert does not implement
    * (`batchsize`, `isolationLevel`, `numPartitions`, `truncate`,
    * `sessionInitStatement`, `queryTimeout`) fail the call with an
    * `IllegalArgumentException` before anything is deleted. */
  def idempotentJdbcAppend(
      df: DataFrame, batchId: Long,
      url: String, table: String, props: java.util.Properties): Unit = {
    props.stringPropertyNames.forEach { k =>
      require(!UnsupportedAppendOptions.exists(_.equalsIgnoreCase(k)),
        s"idempotentJdbcAppend does not implement the Spark JDBC write option '$k'")
    }
    val data = df.drop("batch_id")
    val cols = data.columns.toSeq
    val sqlTypes = data.schema.fields.map(f => jdbcTypeOf(f.dataType))
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // existence check via metadata instead of a swallow-all catch around
      // the DELETE — a real SQL failure must surface, not masquerade as
      // "first batch". Handles an optional schema qualifier; an unqualified
      // name is resolved against the connection's CURRENT schema so a
      // same-named table elsewhere can neither false-positive (crashing the
      // first batch) nor false-negative (skipping the replay delete). The
      // column is quoted because Spark's JDBC writer creates quoted
      // (case-exact) identifiers.
      val (schemaPart, namePart) = table.split("\\.") match {
        case Array(sch, n) => (Some(sch), n)
        case _             => (Option(conn.getSchema), table) // may be null: name-only match
      }
      // Pass the name patterns into the metadata call so the scan is scoped to
      // the one table (a catalog-wide getTables is slow on large catalogs).
      // Spark's JDBC writer creates case-exact identifiers, so match both the
      // exact name and the driver's identifier-case normalization of it.
      val meta = conn.getMetaData
      def found(pattern: String): Boolean = {
        val rs = meta.getTables(null, schemaPart.orNull, pattern, Array("TABLE"))
        try {
          var exists = false
          while (!exists && rs.next())
            exists = rs.getString("TABLE_NAME").equalsIgnoreCase(namePart) &&
              schemaPart.forall(_.equalsIgnoreCase(rs.getString("TABLE_SCHEM")))
          exists
        } finally rs.close()
      }
      val exists = found(namePart) || found(namePart.toUpperCase) || found(namePart.toLowerCase)
      if (exists) {
        val ps = conn.prepareStatement(s"""DELETE FROM $table WHERE "batch_id" = ?""")
        try { ps.setLong(1, batchId); ps.executeUpdate() } finally ps.close()
      } else {
        // create with Spark's DDL mapping, then the best-effort index (in
        // the table's schema when the name is qualified); "already exists"
        // or a refused DDL leaves the sink correct, only slower
        data.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .limit(0).write.mode("append").jdbc(url, table, props)
        val idx = table.replaceAll("[^A-Za-z0-9_.]", "_") + "_graft_batch_idx"
        val st = conn.createStatement()
        try st.executeUpdate(s"""CREATE INDEX $idx ON $table ("batch_id")""")
        catch { case _: java.sql.SQLException => () }
        finally st.close()
      }
    } finally conn.close()
    writePartitions(data, url, props, Seq(insertSql(table, cols :+ "batch_id")), 1000) {
      case (Seq(ins), row) =>
        cols.indices.foreach(ci => setParam(ins, ci + 1, row.get(ci), sqlTypes(ci)))
        ins.setLong(cols.length + 1, batchId)
        ins.addBatch()
    }
  }

  /** Spark JDBC write options [[idempotentJdbcAppend]]'s insert does not
    * implement. */
  private val UnsupportedAppendOptions = Seq(
    "batchsize", "isolationLevel", "numPartitions", "truncate",
    "sessionInitStatement", "queryTimeout")

  private def quote(s: String): String = "\"" + s + "\""

  /** `INSERT INTO table ("c1", ...) VALUES (?, ...)`. */
  private def insertSql(table: String, cols: Seq[String]): String =
    s"INSERT INTO $table (${cols.map(quote).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"

  /** Dialect-native single-statement upsert, where the target has one —
    * the reference's production sink is Postgres (JPA saveAll), and
    * Postgres' `INSERT … ON CONFLICT DO UPDATE` halves the round trips of
    * the portable DELETE+INSERT pair while staying replay-idempotent.
    * Returns None for dialects without a safe single-statement form
    * ([[jdbcUpsert]] then uses DELETE+INSERT, which any JDBC target —
    * including the test suite's embedded Derby — supports). ON CONFLICT
    * requires the unique key index [[jdbcUpsert]] already creates. The
    * generated text is pinned in `SourcesSinksSpec`; it cannot be executed
    * in this sandbox (no Postgres server), exactly like the Kafka option
    * surface. */
  private[io] def dialectUpsertSql(
      url: String, table: String, cols: Seq[String],
      keys: Seq[String]): Option[String] =
    if (url.startsWith("jdbc:postgresql:")) {
      val nonKeys = cols.filterNot(keys.contains)
      val action =
        if (nonKeys.isEmpty) "DO NOTHING" // keys-only rows: replay is a no-op
        else "DO UPDATE SET " +
          nonKeys.map(c => s"${quote(c)} = EXCLUDED.${quote(c)}").mkString(", ")
      Some(s"${insertSql(table, cols)} ON CONFLICT (${keys.map(quote).mkString(", ")}) $action")
    } else None

  /** Distributed keyed JDBC upsert (merge): each partition deletes its keys'
    * previous rows and inserts the new versions — one connection per
    * partition, batched statements, a single transaction per partition. The
    * "latest state" sink shape (vs `historizedSink`'s append-history): a
    * replayed micro-batch simply re-upserts the same keys, so the sink is
    * replay-idempotent WITHOUT batch-id bookkeeping as long as the batch
    * content is deterministic.
    *
    * PRECONDITIONS: `keys` are unique within `df` (dedup upstream with e.g.
    * `Scoreboard.latestPerGroupAgg` — duplicate keys make the surviving row
    * partition-order-dependent) and NON-NULL (SQL `"k" = ?` never matches a
    * NULL, so a NULL-key row could never be replaced, breaking replay
    * idempotence — enforced per row, fail-fast). Key columns must be
    * equality-comparable in the target database (numeric/short-string keys;
    * note Spark's JDBC writer maps StringType to CLOB on Derby, which Derby
    * cannot compare — CLOB keys need an explicit VARCHAR DDL). The table is
    * created from the frame's schema on first use (driver-side, so
    * executors never race on DDL), and a unique key index is attempted
    * best-effort: it makes the per-row DELETEs index seeks instead of table
    * scans AND turns the duplicate-row race of concurrent task attempts
    * (speculative execution, zombie retries) into a constraint violation
    * instead of silent corruption. As with any non-transactional
    * foreachPartition sink, disable speculation for strict exactly-once
    * row counts on databases where the index DDL is refused. */
  def jdbcUpsert(
      df: DataFrame, url: String, table: String, keys: Seq[String],
      props: java.util.Properties, batchSize: Int = 1000): Unit = {
    require(keys.nonEmpty, "jdbcUpsert needs at least one key column")
    val cols = df.columns.toSeq
    require(keys.forall(cols.contains),
      s"keys ${keys.mkString(",")} must all be columns of the frame (${cols.mkString(",")})")
    require(batchSize > 0, "batchSize must be positive")
    // create-if-absent with Spark's own DDL mapping (quoted identifiers),
    // before any executor opens a connection
    df.limit(0).write.mode("append").jdbc(url, table, props)
    // best-effort unique key index (see scaladoc); idempotent via the
    // swallow — a second run fails with "already exists", which is fine
    locally {
      val idxName = table.replaceAll("[^A-Za-z0-9_]", "_") + "_graft_upsert_idx"
      val conn = java.sql.DriverManager.getConnection(url, props)
      try {
        val st = conn.createStatement()
        try st.executeUpdate(
          s"CREATE UNIQUE INDEX $idxName ON $table (${keys.map(quote).mkString(", ")})")
        catch { case _: java.sql.SQLException => () } // exists / unsupported
        finally st.close()
      } finally conn.close()
    }
    // native single-statement upsert where the dialect has one; portable
    // DELETE+INSERT pair otherwise — same transaction and batching
    // discipline either way
    val sqls = dialectUpsertSql(url, table, cols, keys).map(Seq(_)).getOrElse(Seq(
      s"DELETE FROM $table WHERE " + keys.map(k => s"${quote(k)} = ?").mkString(" AND "),
      insertSql(table, cols)))
    val keyIdx = keys.map(cols.indexOf).toArray
    val sqlTypes = df.schema.fields.map(f => jdbcTypeOf(f.dataType))
    writePartitions(df, url, props, sqls, batchSize) { (stmts, row) =>
      keyIdx.foreach { ci =>
        require(!row.isNullAt(ci),
          s"jdbcUpsert key column ${cols(ci)} is NULL — NULL keys can never " +
            "be replaced (SQL equality) and would break replay idempotence")
      }
      // the portable pair's DELETE binds the keys; the INSERT (or the
      // dialect's upsert) binds every column
      if (stmts.size == 2) {
        keyIdx.zipWithIndex.foreach { case (ci, pi) =>
          setParam(stmts.head, pi + 1, row.get(ci), sqlTypes(ci))
        }
        stmts.head.addBatch()
      }
      cols.indices.foreach(ci => setParam(stmts.last, ci + 1, row.get(ci), sqlTypes(ci)))
      stmts.last.addBatch()
    }
  }

  /** The partition writer of both JDBC sinks: per non-empty partition one
    * connection with autocommit off, the `sqls` prepared once, `bind` adding
    * each row to their batches, an `executeBatch` of every statement each
    * `batchSize` rows and at the end, then one commit. A failure rolls back
    * (a rollback failure rides along as suppressed) and rethrows the root
    * cause; every statement is closed either way. */
  private def writePartitions(
      df: DataFrame, url: String, props: java.util.Properties,
      sqls: Seq[String], batchSize: Int)(
      bind: (Seq[java.sql.PreparedStatement], org.apache.spark.sql.Row) => Unit): Unit = {
    val driver = Option(props.getProperty("driver"))
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        driver.foreach(Class.forName) // executor JVMs may not have touched JDBC yet
        val conn = java.sql.DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val stmts = sqls.map(conn.prepareStatement)
          try {
            var pending = 0
            rows.foreach { row =>
              bind(stmts, row)
              pending += 1
              if (pending >= batchSize) {
                stmts.foreach(_.executeBatch()); pending = 0
              }
            }
            if (pending > 0) stmts.foreach(_.executeBatch())
            conn.commit()
          } catch {
            case e: Throwable =>
              // a failed batch often kills the connection too — keep the
              // ROOT cause, attach the rollback failure as suppressed
              try conn.rollback()
              catch { case re: Throwable => e.addSuppressed(re) }
              throw e
          } finally {
            // close EVERY statement even if one close throws, and surface
            // (don't swallow) the failures — a close error after a clean
            // commit is non-actionable but must not be invisible
            stmts.reverse.foreach { st =>
              try st.close()
              catch {
                case scala.util.control.NonFatal(ce) =>
                  System.err.println(s"[sink] statement close failed: $ce")
              }
            }
          }
        } finally conn.close()
      }
    }
  }

  private def setParam(
      ps: java.sql.PreparedStatement, i: Int, v: Any, sqlType: Int): Unit =
    if (v == null) ps.setNull(i, sqlType) else ps.setObject(i, v)

  /** Spark type → java.sql.Types code, for `setNull`. Collection/struct
    * payloads have no portable JDBC shape — serialize them (to_json) before
    * the sink, as the reference's downstream tables do. */
  private def jdbcTypeOf(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType       => java.sql.Types.BIGINT
      case IntegerType    => java.sql.Types.INTEGER
      case ShortType      => java.sql.Types.SMALLINT
      case ByteType       => java.sql.Types.TINYINT
      case DoubleType     => java.sql.Types.DOUBLE
      case FloatType      => java.sql.Types.REAL // JDBC FLOAT means double precision
      case StringType     => java.sql.Types.VARCHAR
      case BooleanType    => java.sql.Types.BOOLEAN
      case TimestampType  => java.sql.Types.TIMESTAMP
      case DateType       => java.sql.Types.DATE
      case BinaryType     => java.sql.Types.BINARY
      case _: DecimalType => java.sql.Types.DECIMAL
      case other => throw new IllegalArgumentException(
        s"the JDBC sinks have no JDBC mapping for $other — serialize it first")
    }
  }

  /** Console sink (reference S3, SparkStreamingService.java:239-250). */
  def consoleSink[T](stats: Dataset[T]): DataStreamWriter[T] =
    stats.writeStream.outputMode("update").format("console")

  /** Parquet append sink for a batch — the test/local stand-in for Postgres. */
  def parquetAppend(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Hive-style partitioned parquet append: the 100 TB table LAYOUT. Readers
    * filtering on the partition columns scan only matching directories
    * (partition pruning — `PartitionFilters` at the scan, no data read
    * elsewhere), and each partition can be compacted/retired independently.
    * Partition on low-cardinality, always-filtered columns (event date,
    * source, language) — never on high-cardinality keys, which would
    * explode the file count. */
  def partitionedParquetAppend(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("append").partitionBy(partitionCols: _*).parquet(path)

  /** Compact a parquet directory's small files into ~`targetBytes` outputs —
    * the maintenance pass every streaming/append table needs: micro-batch
    * sinks accrete KB-sized files whose per-file open/footer cost eventually
    * dominates scans (the "small files problem"). Reads `srcPath`, sizes the
    * output file count from the ACTUAL input bytes, and writes to
    * `destPath` — never in place, so a crashed compaction can't destroy the
    * source; callers swap directories (or repoint the reader) after
    * success. Returns the output file count. */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      srcPath: String, destPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val src = new org.apache.hadoop.fs.Path(srcPath)
    val dest = new org.apache.hadoop.fs.Path(destPath)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = src.getFileSystem(hadoopConf)
    // Qualify through each path's own FileSystem so aliased spellings of one
    // location (relative vs absolute, scheme-qualified vs bare) can't slip
    // past the never-in-place guard and overwrite the data being read.
    val srcQ = fs.makeQualified(src)
    val destQ = dest.getFileSystem(hadoopConf).makeQualified(dest)
    require(srcQ != destQ,
      s"compactParquet never writes in place: destPath resolves to the same " +
        s"location as srcPath ($srcQ)")
    val totalBytes = fs.getContentSummary(src).getLength
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcPath)
      .repartition(nOut)
      .write.mode("overwrite").parquet(destPath)
    nOut
  }
}
