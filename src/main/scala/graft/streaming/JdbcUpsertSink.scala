package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StructType, TimestampType}
import java.sql.{Connection, DriverManager, PreparedStatement, SQLException, SQLIntegrityConstraintViolationException}

/** JDBC upsert sink for `foreachBatch` — the Spark analog of the
  * reference's gorm Save-or-update (maillog2db.go:142-166, 332-358).
  *
  * Plain `DataFrameWriter.jdbc` can only append/overwrite; upsert
  * semantics need dialect SQL, executed here per partition so each
  * executor writes its own split (the sink scales with the cluster
  * rather than funnelling through the driver). Batches are
  * repartitioned by the key columns first, so one key is only ever
  * written by one partition of a micro-batch — no cross-connection
  * races on fresh keys.
  *
  * Schema management (maillog2db.go:163-166 auto-migrates on start;
  * README: "schema is automatically created"): when the table is
  * absent, the first write issues a dialect-aware CREATE TABLE
  * carrying the reference's bookkeeping columns (go:61-110) —
  * auto-increment `id`, `row_created_at`, `row_updated_at` — plus
  * `row_key_hash`, a sha-256 of the logical key tuple with a UNIQUE
  * constraint. The hash column is what makes the upsert batchable on
  * ANY JDBC database: wide natural keys (the logs/deliveries tables
  * key on their full tuple, several VARCHAR(500)s) exceed index
  * length limits as a composite unique index, while a 64-char hash
  * never does, and a single-column equality match keeps the
  * update/insert statements trivially portable.
  *
  * Write paths:
  *  - managed table (has `row_key_hash`) + `mysql`: single-statement
  *    `INSERT … ON DUPLICATE KEY UPDATE` on the hash, JDBC-batched.
  *  - managed + `generic`: batched update-first upsert — one batched
  *    UPDATE on the hash, then one batched INSERT of the rows whose
  *    update count was 0; a lost race with a replayed/concurrent
  *    writer (unique violation, SQLState 23xxx) rolls the group back
  *    and re-applies it per-row under savepoints. Works on any ANSI
  *    database; integration-tested against Derby.
  *  - external table (pre-existing, no hash column): the original
  *    behavior — `mysql` batched ON DUPLICATE KEY UPDATE on the
  *    table's own keys, `generic` exists-check then update/insert
  *    per row with a savepoint-guarded duplicate-key fallback (the
  *    savepoint matters on databases that abort the transaction on
  *    constraint violation, e.g. PostgreSQL).
  *
  * Hash-format stability: `row_key_hash` is derived from the key
  * encoding in [[JdbcUpsertSink.keyHash]]. Changing that encoding
  * (as the pre-1970 floorDiv fix did once) means rows replayed into
  * a sink table written under the OLD encoding no longer match their
  * stored hashes and re-insert one extra copy each; drain or rebuild
  * managed tables when upgrading across a hash-format change.
  */
class JdbcUpsertSink(url: String, table: String, keyCols: Seq[String],
                     user: String, password: String,
                     dialect: String = "mysql",
                     createTypes: Map[String, String] = Map.empty,
                     mergePolicy: Map[String, String] = Map.empty)
    extends Serializable {
  require(Seq("mysql", "generic").contains(dialect), s"unknown dialect $dialect")
  require(mergePolicy.values.forall(Seq("coalesce", "max").contains),
    s"mergePolicy values must be coalesce|max: $mergePolicy")

  import JdbcUpsertSink.{isDuplicateKey, keyHash, BatchSize}

  // ---------------------------------------------------------------
  // Per-column merge policies
  //
  // Default updates OVERWRITE ("last writer wins" — the reference's
  // gorm Save). A stateful upstream with TTL-evicted state re-emits
  // rows rebuilt from an EMPTY initial state, so an overwrite would
  // null out previously merged columns and regress counters; such
  // columns declare a policy instead:
  //  - "coalesce": incoming NULL keeps the stored value (the
  //    reference's last-NON-NULL-wins merge semantics, go:332-358);
  //  - "max": keep the greater (monotone counters / lastseen marks —
  //    after an eviction the re-counted value can only be a lower
  //    bound, so never let it regress the stored one).
  // ---------------------------------------------------------------

  /** SET clause + bind multiplicity for one non-key column of a
    * parameterized UPDATE. */
  private def setClause(c: String): (String, Int) = mergePolicy.get(c) match {
    case Some("coalesce") => (s"$c = COALESCE(?, $c)", 1)
    case Some("max") =>
      // NULL-safe on both sides: a NULL incoming value never clobbers,
      // a NULL stored value is always replaced
      (s"$c = CASE WHEN ? IS NOT NULL AND ($c IS NULL OR ? > $c) THEN ? ELSE $c END", 3)
    case _ => (s"$c = ?", 1)
  }

  /** ON DUPLICATE KEY UPDATE clause for one column (mysql; VALUES()
    * refers to the insert binds, so multiplicity stays 1). */
  private def valuesClause(c: String): String = mergePolicy.get(c) match {
    case Some("coalesce") => s"$c=COALESCE(VALUES($c), $c)"
    case Some("max") =>
      s"$c=CASE WHEN VALUES($c) IS NOT NULL AND ($c IS NULL OR VALUES($c) > $c) THEN VALUES($c) ELSE $c END"
    case _ => s"$c=VALUES($c)"
  }

  /** Bind order for a parameterized UPDATE over `nonKeys`: each
    * column index repeated by its clause's placeholder count. */
  private def updateBindPlan(cols: Seq[String], nonKeyIdx: Seq[Int]): Seq[Int] =
    nonKeyIdx.flatMap(i => Seq.fill(setClause(cols(i))._2)(i))

  // ---------------------------------------------------------------
  // SQL builders (driver side; also unit-tested directly)
  // ---------------------------------------------------------------

  /** MySQL upsert statement for an external (pre-existing) table. */
  def upsertSql(cols: Seq[String]): String = {
    require(keyCols.forall(cols.contains), s"key columns $keyCols must be in $cols")
    val nonKeys = cols.filterNot(keyCols.contains)
    // all-columns-key tables still need the upsert clause: a plain
    // INSERT would raise on the duplicates it exists to absorb
    val updates =
      if (nonKeys.isEmpty) s"${keyCols.head}=${keyCols.head}"
      else nonKeys.map(valuesClause).mkString(", ")
    s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})" +
      s" ON DUPLICATE KEY UPDATE $updates"
  }

  /** ANSI statements for the external generic dialect:
    * (exists, update-or-None, insert). */
  def genericSql(cols: Seq[String]): (String, Option[String], String) = {
    require(keyCols.forall(cols.contains), s"key columns $keyCols must be in $cols")
    val nonKeys = cols.filterNot(keyCols.contains)
    val where = keyCols.map(k => s"$k = ?").mkString(" AND ")
    val exists = s"SELECT 1 FROM $table WHERE $where"
    val update =
      if (nonKeys.isEmpty) None
      else Some(s"UPDATE $table SET ${nonKeys.map(c => setClause(c)._1).mkString(", ")} WHERE $where")
    val insert =
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    (exists, update, insert)
  }

  /** Managed-table statements keyed on the hash column:
    * (mysqlUpsert, genericUpdate, insert). Bind order: insert = data
    * cols then hash; update = non-keys then hash. */
  def managedSql(cols: Seq[String]): (String, String, String) = {
    require(keyCols.forall(cols.contains), s"key columns $keyCols must be in $cols")
    val nonKeys = cols.filterNot(keyCols.contains)
    val insCols = cols ++ Seq("row_key_hash", "row_created_at", "row_updated_at")
    val insVals = cols.map(_ => "?") ++ Seq("?", "CURRENT_TIMESTAMP", "CURRENT_TIMESTAMP")
    val insert =
      s"INSERT INTO $table (${insCols.mkString(", ")}) VALUES (${insVals.mkString(", ")})"
    val mysqlUpdates =
      (nonKeys.map(valuesClause) :+ "row_updated_at=CURRENT_TIMESTAMP").mkString(", ")
    val mysql = s"$insert ON DUPLICATE KEY UPDATE $mysqlUpdates"
    val genericSets =
      (nonKeys.map(c => setClause(c)._1) :+ "row_updated_at = CURRENT_TIMESTAMP").mkString(", ")
    val update = s"UPDATE $table SET $genericSets WHERE row_key_hash = ?"
    (mysql, update, insert)
  }

  /** Dialect-aware CREATE TABLE with the reference's bookkeeping
    * columns (maillog2db.go:61-110) and the unique key hash. */
  def createDdl(schema: StructType): String = {
    val mysql = dialect == "mysql"
    val id =
      if (mysql) "id BIGINT AUTO_INCREMENT PRIMARY KEY"
      else "id BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY"
    val ts = if (mysql) "DATETIME(6)" else "TIMESTAMP"
    def sqlType(f: org.apache.spark.sql.types.StructField): String =
      createTypes.getOrElse(f.name, f.dataType match {
        case TimestampType => ts
        case LongType => "BIGINT"
        case IntegerType => "INTEGER"
        case DoubleType | FloatType => "DOUBLE PRECISION"
        case _ => "VARCHAR(500)"
      })
    val dataCols = schema.fields.map(f => s"${f.name} ${sqlType(f)}")
    val book = Seq(
      "row_key_hash VARCHAR(64) NOT NULL",
      s"row_created_at $ts",
      s"row_updated_at $ts",
      s"CONSTRAINT uk_${table}_key UNIQUE (row_key_hash)")
    val ifNotExists = if (mysql) "IF NOT EXISTS " else ""
    s"CREATE TABLE $ifNotExists$table (${(id +: dataCols.toSeq) ++ book mkString ", "})"
  }

  // ---------------------------------------------------------------
  // Schema management (driver side, once per sink instance)
  // ---------------------------------------------------------------

  /** None = not probed yet; Some(true) = managed (hash column
    * present); Some(false) = external pre-existing table. */
  @transient @volatile private var managedMode: Option[Boolean] = None

  private def tableExists(conn: Connection): Boolean =
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
      finally st.close()
    } catch { case _: SQLException => false }

  private def hasHashColumn(conn: Connection): Boolean =
    try {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT row_key_hash FROM $table WHERE 1=0").close(); true }
      finally st.close()
    } catch { case _: SQLException => false }

  /** Create the table if absent, then record whether
    * the managed write path applies. Idempotent; races with another
    * creator resolve via the exists re-probe. */
  private def ensureSchema(schema: StructType): Boolean = {
    managedMode.getOrElse {
      val conn = DriverManager.getConnection(url, user, password)
      try {
        if (!tableExists(conn)) {
          try {
            val st = conn.createStatement()
            try st.execute(createDdl(schema)) finally st.close()
          } catch {
            // lost a create race, or dialect without IF NOT EXISTS:
            // fine as long as the table is there now
            case e: SQLException if tableExists(conn) => ()
          }
        }
        val m = tableExists(conn) && hasHashColumn(conn)
        managedMode = Some(m)
        m
      } finally conn.close()
    }
  }

  // ---------------------------------------------------------------
  // foreachBatch entry point
  // ---------------------------------------------------------------

  /** SQL is built (and key columns validated) on the driver; the
    * closure ships only strings and index arrays. */
  def write(batch: DataFrame, batchId: Long): Unit = {
    val cols = batch.columns.toSeq
    val keyIdx: Seq[Int] = keyCols.map(cols.indexOf)
    val nonKeyIdx: Seq[Int] = cols.indices.filterNot(keyIdx.contains)
    // merge-policy clauses may carry several placeholders per column
    val updIdx: Seq[Int] = updateBindPlan(cols, nonKeyIdx)
    val allIdx: Seq[Int] = cols.indices
    val managed = ensureSchema(batch.schema)
    val mysqlSql = if (managed) managedSql(cols)._1 else upsertSql(cols)
    val (existsSql, updateSqlOpt, insertSql) =
      if (managed) {
        val (_, u, i) = managedSql(cols); ("", Some(u), i)
      } else genericSql(cols)
    val (jdbcUrl, jdbcUser, jdbcPass, d) = (url, user, password, dialect)
    val isManaged = managed

    def bind(ps: PreparedStatement, row: Row, idx: Seq[Int]): Unit = {
      var i = 0
      while (i < idx.length) {
        ps.setObject(i + 1, row.get(idx(i)))
        i += 1
      }
    }

    /** Managed generic path, one group of ≤ BatchSize rows: batched
      * update-first upsert, committed per group so a constraint-abort
      * rollback (PostgreSQL semantics) only redoes this group. */
    def writeManagedGroup(conn: Connection, update: PreparedStatement,
                          insert: PreparedStatement, group: Seq[(Row, String)]): Unit = {
      group.foreach { case (r, h) =>
        bind(update, r, updIdx)
        update.setObject(updIdx.length + 1, h)
        update.addBatch()
      }
      val counts = update.executeBatch()
      // SUCCESS_NO_INFO counts as "missing" — the insert's duplicate
      // fallback corrects the guess; treating it as "updated" could
      // silently drop a row
      val missing = group.zip(counts.toSeq).collect {
        case (rh, c) if c == 0 || c == java.sql.Statement.SUCCESS_NO_INFO => rh
      }
      try {
        missing.foreach { case (r, h) =>
          bind(insert, r, allIdx)
          insert.setObject(allIdx.length + 1, h)
          insert.addBatch()
        }
        insert.executeBatch()
        conn.commit()
      } catch {
        case e if isDuplicateKey(e) =>
          // replay/concurrent-writer race: redo this group per-row
          // under savepoints (the batch may have aborted the txn)
          conn.rollback()
          group.foreach { case (r, h) =>
            val sp = conn.setSavepoint()
            try {
              bind(insert, r, allIdx)
              insert.setObject(allIdx.length + 1, h)
              insert.executeUpdate()
            } catch {
              case e2 if isDuplicateKey(e2) =>
                conn.rollback(sp)
                bind(update, r, updIdx)
                update.setObject(updIdx.length + 1, h)
                // SQLState class 23 also covers NOT NULL/FK/CHECK
                // violations; those rows match no existing key, so a
                // 0-row update means the row was neither inserted nor
                // updated — surface the original failure rather than
                // silently dropping the row
                if (update.executeUpdate() == 0) throw e2
            }
          }
          conn.commit()
      }
    }

    // same key -> same partition: no cross-connection insert races
    batch.repartition(keyCols.map(batch.col): _*)
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.nonEmpty) {
          val conn: Connection = DriverManager.getConnection(jdbcUrl, jdbcUser, jdbcPass)
          try {
            conn.setAutoCommit(false)
            if (d == "mysql") {
              val ps = conn.prepareStatement(mysqlSql)
              var n = 0
              rows.foreach { r =>
                bind(ps, r, allIdx)
                if (isManaged)
                  ps.setObject(allIdx.length + 1, keyHash(r, keyIdx))
                ps.addBatch()
                n += 1
                if (n % BatchSize == 0) ps.executeBatch()
              }
              ps.executeBatch()
              conn.commit()
            } else if (isManaged) {
              val update = conn.prepareStatement(updateSqlOpt.get)
              val insert = conn.prepareStatement(insertSql)
              rows.map(r => (r, keyHash(r, keyIdx)))
                .grouped(BatchSize)
                .foreach(g => writeManagedGroup(conn, update, insert, g.toSeq))
            } else {
              val exists = conn.prepareStatement(existsSql)
              val update = updateSqlOpt.map(conn.prepareStatement)
              val insert = conn.prepareStatement(insertSql)
              rows.foreach { r =>
                bind(exists, r, keyIdx)
                val rs = exists.executeQuery()
                val present = try rs.next() finally rs.close()
                // returns rows touched (all-columns-key tables have
                // no update statement: the row existing IS the upsert)
                def doUpdate(): Int = update.map { u =>
                  bind(u, r, updIdx ++ keyIdx)
                  u.executeUpdate()
                }.getOrElse(1)
                if (present) doUpdate()
                else {
                  // savepoint so a constraint violation doesn't abort
                  // the whole transaction (PostgreSQL semantics)
                  val sp = conn.setSavepoint()
                  bind(insert, r, allIdx)
                  try insert.executeUpdate()
                  catch {
                    // lost a race with a replayed/concurrent writer:
                    // the row exists now, so apply the update instead.
                    // SQLState class 23 also covers NOT NULL/FK/CHECK:
                    // if the update then touches nothing, the row was
                    // neither inserted nor updated — rethrow rather
                    // than silently dropping it
                    case e if isDuplicateKey(e) =>
                      conn.rollback(sp)
                      if (doUpdate() == 0) throw e
                  }
                }
              }
              conn.commit()
            }
          } finally conn.close()
        }
      }
  }
}

object JdbcUpsertSink {

  private[graft] val BatchSize = 1000

  /** Duplicate-key detection across drivers: the standard exception
    * subclass, or any SQLException in SQLState class 23 (integrity
    * constraint violation — PostgreSQL throws a plain SQLException
    * subclass with state 23505, not the Integrity subclass). Batch
    * failures surface as BatchUpdateException, also SQLState-coded. */
  private[graft] def isDuplicateKey(e: Throwable): Boolean = e match {
    case _: SQLIntegrityConstraintViolationException => true
    case s: SQLException =>
      val state = s.getSQLState
      (state != null && state.startsWith("23")) ||
        (s.getNextException != null && s.getNextException.ne(s) &&
          isDuplicateKey(s.getNextException))
    case _ => false
  }

  /** Hex sha-256 of the logical key tuple. NULL and the string
    * "null" must hash differently, so nulls map to a \\u0000 sentinel
    * (which cannot appear in log data); fields join on \\u0001. */
  private[graft] def keyHash(row: Row, keyIdx: Seq[Int]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < keyIdx.length) {
      if (i > 0) sb.append('\u0001')
      row.get(keyIdx(i)) match {
        case null => sb.append('\u0000')
        case t: java.sql.Timestamp =>
          // epoch nanos, NOT toString: toString renders in the JVM
          // default timezone, so the same instant would hash
          // differently across hosts and the unique-key dedup would
          // silently re-insert replayed rows. floorDiv, not /: for
          // pre-1970 instants getTime is negative and truncation
          // toward zero would fold -0.5s and +0.5s onto the same
          // encoding (getNanos is always non-negative), colliding
          // distinct keys in the UNIQUE row_key_hash index
          sb.append("ts:")
            .append(Math.floorDiv(t.getTime, 1000L) * 1000000000L + t.getNanos)
        case b: Array[Byte] =>
          // identity toString would hash differently every run,
          // silently defeating the unique-key dedup for binary keys
          sb.append("bin:")
          b.foreach(x => sb.append(f"$x%02x"))
        case d: java.math.BigDecimal =>
          // scale-insensitive: 1.0 and 1.00 are the same key
          sb.append("dec:").append(d.stripTrailingZeros.toPlainString)
        case d: BigDecimal =>
          sb.append("dec:").append(d.underlying.stripTrailingZeros.toPlainString)
        case v => sb.append(v.toString)
      }
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(sb.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }
}

/** Parquet sink for environments without a database (tests, local). */
object ParquetSink {
  def apply(dir: String): (DataFrame, Long) => Unit =
    (batch, _) => batch.write.mode("append").parquet(dir)
}
