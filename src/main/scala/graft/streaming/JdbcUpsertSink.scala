package graft.streaming

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming keyed upsert into a JDBC warehouse table — the reference's
  * terminal Redshift COPY stage
  * (`/root/reference/dags/music_streaming_etl_dags.py:382-410`) upgraded
  * from hourly DROP+CREATE+COPY full refresh to an incremental,
  * effectively-once CDC load, the first thing a user migrating that DAG
  * to streaming reaches for.
  *
  * Per micro-batch (the warehouse COPY+MERGE idiom):
  *
  *   1. '''Reduce''': the batch collapses to ONE row per key — last
  *      writer by `orderCol` wins, the same CDC convention as
  *      [[VersionedSnapshot.mergeSink]]. A micro-batch can legally carry
  *      several updates per key; the target must see only the newest.
  *   2. '''Stage in parallel''': the reduced rows land in a private
  *      staging table via Spark's JDBC writer (one connection per
  *      partition — the scalable data path; no row ever moves through
  *      the driver).
  *   3. '''Apply atomically''': ONE driver-side transaction runs the
  *      set-based DELETE-matched + INSERT-all against the target (the
  *      portable MERGE: Derby has no MERGE INTO, and DELETE+INSERT is
  *      exactly what Redshift's own staged-merge recipe prescribes) and
  *      bumps the lineage row in the same commit. The data volume inside
  *      the transaction is warehouse-side SQL over the staged rows —
  *      nothing streams through the connection.
  *
  * '''Effectively-once.''' A `<table>_lineage` row records
  * (checkpoint tag, last applied batch id) — the warehouse-side analog
  * of the snapshot layer's lineage marker. A restarted stream
  * re-delivering an already-applied batch id is skipped, and because the
  * lineage bump commits IN the apply transaction, a crash between apply
  * and bump is impossible: either both happened or neither. Replaying a
  * stale batch after a crash re-runs the same reduce + DELETE/INSERT,
  * which is idempotent per key.
  *
  * Keys must be non-null (standard CDC contract); `options` pass through
  * to the staging writer (e.g. `createTableColumnTypes` for dialects
  * that map StringType to something non-comparable, as Derby does with
  * CLOB). The target table is created from the first batch's staged
  * schema (`CREATE TABLE … AS … WITH NO DATA`).
  */
object JdbcUpsertSink {

  private def quoted(c: String): String = "\"" + c + "\""

  /** How this warehouse stores an unquoted identifier in its catalog.
    * Derby/Oracle fold to upper, Postgres/Redshift fold to lower, some
    * store mixed-case as-is — resolved from DatabaseMetaData rather than
    * assumed, so the metadata probes below match on all of them. */
  private def storedName(conn: Connection, name: String): String = {
    val md = conn.getMetaData
    if (md.storesUpperCaseIdentifiers) name.toUpperCase
    else if (md.storesLowerCaseIdentifiers) name.toLowerCase
    else name
  }

  private def tableExists(conn: Connection, name: String): Boolean = {
    // belt-and-braces: probe the declared fold first, then the other
    // casings — a driver that misreports its folding (or a pre-existing
    // quoted-identifier table) still resolves instead of wedging the
    // stream in a CREATE-TABLE retry loop
    val md = conn.getMetaData
    Seq(storedName(conn, name), name, name.toUpperCase, name.toLowerCase)
      .distinct.exists { n =>
        val rs = md.getTables(null, null, n, null)
        try rs.next() finally rs.close()
      }
  }

  /** (tag, batchId) recorded by the last applied batch; ("", -1) if the
    * lineage table does not exist yet. */
  private[graft] def lastApplied(url: String, table: String): (String, Long) = {
    val conn = DriverManager.getConnection(url)
    try {
      if (!tableExists(conn, s"${table}_lineage")) ("", -1L)
      else {
        val rs = conn.createStatement().executeQuery(
          s"SELECT tag, batch_id FROM ${table}_lineage")
        try { if (rs.next()) (rs.getString(1), rs.getLong(2)) else ("", -1L) }
        finally rs.close()
      }
    } finally conn.close()
  }

  /** One staged-merge cycle driven by a micro-batch. Exposed for replay
    * tests; streams go through [[sink]]. */
  private[graft] def upsertBatch(batch: DataFrame, keys: Seq[String],
      orderCol: String, url: String, table: String, checkpointTag: String,
      batchId: Long, options: Map[String, String] = Map.empty): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    val reduced = MicroBatch.latestPerKey(batch, keys, orderCol)
    if (MicroBatch.applied(lastApplied(url, table), checkpointTag, batchId)) return
    // per-ATTEMPT staging table: a zombie driver racing its replacement
    // on a not-yet-applied batch must not overwrite the peer's staged
    // rows between its staging write and its apply transaction — each
    // attempt merges from a private table and drops it in the same
    // transaction that applies it
    val stage = s"${table}_s${batchId}_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    // parallel staging write (Spark JDBC: one connection per partition)
    options.foldLeft(
        reduced.write.format("jdbc").option("url", url).option("dbtable", stage)
      ) { case (wr, (k, v)) => wr.option(k, v) }
      .mode(SaveMode.Overwrite).save()
    val cols = reduced.columns.toSeq
    val conn = DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      val st = conn.createStatement()
      if (!tableExists(conn, table))
        st.executeUpdate(
          s"CREATE TABLE $table AS SELECT * FROM $stage WITH NO DATA")
      else {
        // column-set parity, loud: the DB would otherwise null-fill a
        // dropped column (or fail half-way on an added one) — the same
        // silent-drift class mergeInto's schema check rejects
        val rsC = conn.getMetaData.getColumns(
          null, null, storedName(conn, table), null)
        val targetCols = Iterator.continually(rsC)
          .takeWhile(_.next()).map(_.getString("COLUMN_NAME")).toSet
        rsC.close()
        require(targetCols == cols.toSet,
          s"staged columns ${cols.toSet} must match target $table's $targetCols")
      }
      if (!tableExists(conn, s"${table}_lineage"))
        st.executeUpdate(
          s"CREATE TABLE ${table}_lineage (tag VARCHAR(512), batch_id BIGINT)")
      // re-check inside the transaction: two racing drivers (a zombie
      // attempt beside its replacement) must not double-apply
      val rs = st.executeQuery(s"SELECT tag, batch_id FROM ${table}_lineage")
      val cur = try { if (rs.next()) (rs.getString(1), rs.getLong(2)) else ("", -1L) }
        finally rs.close()
      if (!MicroBatch.applied(cur, checkpointTag, batchId)) {
        val keyMatch = keys.map(k =>
          s"$stage.${quoted(k)} = $table.${quoted(k)}").mkString(" AND ")
        st.executeUpdate(
          s"DELETE FROM $table WHERE EXISTS (SELECT 1 FROM $stage WHERE $keyMatch)")
        val colList = cols.map(quoted).mkString(", ")
        st.executeUpdate(
          s"INSERT INTO $table ($colList) SELECT $colList FROM $stage")
        st.executeUpdate(s"DELETE FROM ${table}_lineage")
        val ps = conn.prepareStatement(
          s"INSERT INTO ${table}_lineage (tag, batch_id) VALUES (?, ?)")
        ps.setString(1, checkpointTag); ps.setLong(2, batchId)
        ps.executeUpdate(); ps.close()
      }
      // the private stage's lifetime ends with the transaction that
      // consumed (or skipped) it — committed apply and stage drop are one
      // atomic unit, so no attempt can merge from another attempt's rows
      st.executeUpdate(s"DROP TABLE $stage")
      st.close()
      conn.commit()
      // orphan sweep: an attempt whose DRIVER died between the parallel
      // staging write and the apply transaction leaves its private
      // `<table>_s<id>_<uuid>` table behind forever — the in-JVM catch
      // below only sees same-process failures, and unlike the old
      // fixed-name stage (self-overwriting) the per-attempt names would
      // accumulate without bound across crash-retry cycles. Any staging
      // table for a batch id <= the one just applied/skipped can never be
      // merged (the lineage row supersedes it), so it is garbage by
      // construction. Best-effort, outside the apply transaction; the
      // `_s<digits>_` suffix namespace is reserved by this sink.
      dropOrphanStages(conn, table, batchId)
    } catch {
      case e: Throwable =>
        conn.rollback()
        // best-effort orphan cleanup: a failed attempt's private stage is
        // garbage (the retry stages afresh under a new name)
        try {
          conn.setAutoCommit(true)
          val st = conn.createStatement()
          try st.executeUpdate(s"DROP TABLE $stage") finally st.close()
        } catch { case _: Throwable => () }
        throw e
    } finally conn.close()
  }

  /** Drop every `<table>_s<batchId>_<uuid>` staging table whose batch id
    * is STRICTLY BELOW `upTo` — orphans from attempts that died before
    * their apply transaction. Strictly below: a racing replacement
    * attempt for the CURRENT batch id may be between its staging write
    * and its apply right now, and sweeping its private stage would fail
    * that attempt needlessly; its orphan (if it dies) is collected by the
    * next batch's sweep. The listing is scoped to the connection's own
    * schema so a same-named table elsewhere can never match; names are
    * matched case-insensitively (the staging writer's unquoted DDL folds
    * per-dialect), and a name only qualifies if the digits right after
    * `_s` parse and are followed by the `_` of the uuid suffix, so
    * `<table>_summary`-style tables can never match. Failures are
    * swallowed: the sweep is maintenance, the merge already committed. */
  private def dropOrphanStages(conn: Connection, table: String, upTo: Long): Unit = {
    try {
      conn.setAutoCommit(true)
      val prefix = s"${table}_s".toUpperCase
      val schema = try Option(conn.getSchema).filter(_.nonEmpty).orNull
        catch { case _: Throwable => null }
      val catalog = try conn.getCatalog catch { case _: Throwable => null }
      val rs = conn.getMetaData.getTables(catalog, schema, null, Array("TABLE"))
      val names = Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toList
      rs.close()
      names.filter { n =>
        n.toUpperCase.startsWith(prefix) && {
          val rest = n.drop(prefix.length)
          val digits = rest.takeWhile(_.isDigit)
          digits.nonEmpty && digits.length <= 18 &&
            rest.lift(digits.length).contains('_') && digits.toLong < upTo
        }
      }.foreach { n =>
        try {
          val st = conn.createStatement()
          try st.executeUpdate(s"DROP TABLE ${quoted(n)}") finally st.close()
        } catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
  }

  /** The streaming sink: maintain a keyed warehouse table from a stream
    * of row versions, one staged merge per micro-batch. */
  def sink(updates: DataFrame, keys: Seq[String], orderCol: String,
      url: String, table: String, checkpoint: String,
      options: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    MicroBatch.drain(updates, checkpoint) { (batch, batchId) =>
      upsertBatch(batch, keys, orderCol, url, table,
        checkpointTag = checkpoint, batchId = batchId, options = options)
    }
}
