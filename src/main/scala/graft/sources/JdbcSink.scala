package graft.sources

import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.Upsert

/** JDBC merge sinks — the reference's physical sink is a Postgres
  * table written with per-row upserts (game_upsert.py:84-110 uses
  * INSERT ... ON CONFLICT DO UPDATE; backfill_user_profiles.py:169-220
  * inserts-if-absent). Spark's own `.write.jdbc` only appends or
  * overwrites, so the merge flavors live here as executor-side batched
  * statements.
  *
  * Scale design:
  *   - incoming rows are deduped per key FIRST
  *     ([[graft.ops.Upsert.firstPerKey]]) and then hash-REPARTITIONED
  *     on the key, so each key is written by exactly one task — no
  *     cross-writer races, no row-level retry loops;
  *   - each partition opens ONE connection and writes in JDBC batches
  *     (`batchSize`), the same per-partition-state seam as the HTTP
  *     enrichment client — N executors write N-way parallel, and
  *     `numWriters` caps the fan-in so the database isn't connection-
  *     stormed by a 1000-executor cluster;
  *   - statements are idempotent merges, so re-running a failed batch
  *     converges (the reference's crash-safety property,
  *     docs/failure_simulation.md).
  *
  * The SQL is dialect-portable UPDATE + INSERT; `dualTable` names the
  * 1-row system table used for guarded inserts (Derby/DB2:
  * SYSIBM.SYSDUMMY1; Postgres/MySQL pass "" for a bare SELECT).
  */
object JdbcSink {

  /** Last-write-wins upsert into `table`: UPDATE each key's row, INSERT
    * when absent. Within `df`, the first row per key under `orderCols`
    * wins — pass a total order, exactly as in [[graft.ops.Upsert]].
    *
    * `versionCol` (recommended): a monotone column (ingest sequence /
    * timestamp) guarding the UPDATE with `versionCol <= incoming`, so
    * replaying an OLDER batch after a newer one committed cannot
    * regress rows — full last-write-wins across batches, not just
    * within one. Without it, cross-batch semantics are
    * latest-batch-wins (the reference's own ON CONFLICT DO UPDATE
    * behavior); same-batch replay still converges either way.
    *
    * The insert leg is a guarded `INSERT ... WHERE NOT EXISTS` rather
    * than trusting `executeBatch` update counts — drivers may return
    * `SUCCESS_NO_INFO` (-2) for batches, so "count == 0 → absent" is
    * not portable. The guarded form is correct under any driver and
    * idempotent under replay. */
  def upsert(df: DataFrame, key: String, orderCols: Seq[Column],
      url: String, table: String, batchSize: Int = 500,
      numWriters: Int = 0, versionCol: Option[String] = None,
      dualTable: String = "SYSIBM.SYSDUMMY1"): Unit = {
    val cols = df.columns.toSeq
    val nonKey = cols.filterNot(_ == key)
    val guard = versionCol.map(v => s" AND $v <= ?").getOrElse("")
    val updateSql = s"UPDATE $table SET " +
      nonKey.map(c => s"$c = ?").mkString(", ") + s" WHERE $key = ?" + guard
    val from = if (dualTable.isEmpty) "" else s" FROM $dualTable"
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) SELECT " +
      cols.map(_ => "?").mkString(", ") + from +
      s" WHERE NOT EXISTS (SELECT 1 FROM $table WHERE $key = ?)"
    foreachKeyPartition(Upsert.firstPerKey(df, key, orderCols), key, url,
        numWriters) {
      (conn, rows) =>
        val upd = conn.prepareStatement(updateSql)
        val ins = conn.prepareStatement(insertSql)
        try rows.grouped(batchSize).foreach { group =>
          group.foreach { r =>
            var i = 0
            nonKey.foreach { c =>
              i += 1; upd.setObject(i, r.getAs[AnyRef](c)) }
            i += 1; upd.setObject(i, r.getAs[AnyRef](key))
            versionCol.foreach { v =>
              i += 1; upd.setObject(i, r.getAs[AnyRef](v)) }
            upd.addBatch()
            // guarded insert: no-op when the key exists (whether the
            // update above touched it or a newer version blocked it)
            cols.zipWithIndex.foreach { case (c, j) =>
              ins.setObject(j + 1, r.getAs[AnyRef](c)) }
            ins.setObject(cols.size + 1, r.getAs[AnyRef](key))
            ins.addBatch()
          }
          upd.executeBatch()
          ins.executeBatch()
          conn.commit()
        } finally { upd.close(); ins.close() }
    }
  }

  /** First-write-wins: INSERT keys that are absent, never touch
    * existing rows (the reference's users-table semantics,
    * docs/assumptions.md:36). */
  def insertIfAbsent(df: DataFrame, key: String, orderCols: Seq[Column],
      url: String, table: String, batchSize: Int = 500,
      numWriters: Int = 0, dualTable: String = "SYSIBM.SYSDUMMY1"): Unit = {
    val cols = df.columns.toSeq
    val from = if (dualTable.isEmpty) "" else s" FROM $dualTable"
    val sql = s"INSERT INTO $table (${cols.mkString(", ")}) SELECT " +
      cols.map(_ => "?").mkString(", ") + from +
      s" WHERE NOT EXISTS (SELECT 1 FROM $table WHERE $key = ?)"
    foreachKeyPartition(Upsert.firstPerKey(df, key, orderCols), key, url,
        numWriters) {
      (conn, rows) =>
        val ins = conn.prepareStatement(sql)
        try rows.grouped(batchSize).foreach { group =>
          group.foreach { r =>
            cols.zipWithIndex.foreach { case (c, i) =>
              ins.setObject(i + 1, r.getAs[AnyRef](c)) }
            ins.setObject(cols.size + 1, r.getAs[AnyRef](key))
            ins.addBatch()
          }
          ins.executeBatch()
          conn.commit()
        } finally ins.close()
    }
  }

  /** Repartition on the key (each key → exactly one writer task) and
    * run `f` once per non-empty partition with a dedicated
    * autocommit-off connection. */
  private def foreachKeyPartition(df: DataFrame, key: String, url: String,
      numWriters: Int)(f: (Connection, Iterator[Row]) => Unit): Unit = {
    val parted =
      if (numWriters > 0) df.repartition(numWriters, col(key))
      else df.repartition(col(key))
    parted.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(url)
        conn.setAutoCommit(false)
        try f(conn, rows) finally conn.close()
      }
    }
  }
}
