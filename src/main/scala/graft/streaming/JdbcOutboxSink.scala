package graft.streaming

import java.sql.{Connection, DriverManager}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import graft.streaming.Pipeline.RowSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, hash, lit, pmod}

/** TRANSACTIONAL exactly-once JDBC append — the outbox variant
  * IdempotentSink's doc names (VERDICT r3 item 6): the data rows and
  * their ledger rows commit in ONE database transaction, so there is no
  * window where data is visible but the ledger is not. A crash at any
  * point before commit rolls the task back entirely; a replayed or
  * retried task sees its buckets' ledger rows and skips them. Contrast with
  * IdempotentSink's file ledger, which is honest about its non-atomic
  * marker window.
  *
  * The ledger key is (batch_id, part_id), not batch_id alone, and
  * part_id names a content BUCKET, `pmod(hash(row), numPartitions)`:
  * foreachBatch guarantees a replayed batchId carries the same ROWS,
  * and the bucket of a row depends on its content only, so
  * (batch_id, part_id) names the same row set on every attempt — the
  * correctness keystone (JdbcSinkSpec kills a task between its data
  * inserts and its ledger inserts and proves zero duplicates after
  * restart). The batch is shuffled by bucket, so a bucket is never
  * split across tasks; each task reads which of the batch's buckets
  * are already committed, skips their rows, and commits the rest of
  * its rows plus one ledger row per bucket it wrote in ONE
  * transaction. The protocol stays fully distributed: no driver-side
  * collect and no cross-task coordination, a retry of one failed task
  * never re-delivers another task's buckets, and the primary key
  * turns a concurrent duplicate attempt at a bucket into a rollback.
  * The bucket is the partition id `repartition(numPartitions, cols)`
  * gives a row, which is how earlier versions split a batch (one task
  * and one ledger row per partition), so their ledgers replay exactly
  * once here too.
  *
  * Scale shape: one connection + one transaction per write task per
  * batch — the shuffle has no fixed partition count, so adaptive
  * execution packs a small micro-batch into a single task — inserts
  * batched `batchSize` at a time; one ledger read per task, a
  * primary-key prefix scan. The ledger grows at most `numPartitions`
  * rows per batch — `pruneLedger` applies the retention.
  */
final class JdbcOutboxSink(url: String, table: String,
    ledgerTable: String = "graft_outbox_ledger",
    numPartitions: Int = 16, batchSize: Int = 1000,
    crashHookKey: Option[String] = None) extends RowSink {

  /** Databases fold unquoted identifiers differently (Derby/H2 upper,
    * Postgres lower), so the existence probe checks the name as given
    * plus both foldings — an upper-only probe on Postgres never finds
    * the table and every batch after the first dies on CREATE.
    *
    * getTables takes a LIKE pattern, and '_' (present in the default
    * ledger name) matches any character — unescaped, a table named
    * e.g. graftXoutboxYledger makes the probe report existence, CREATE
    * is skipped, and every ledger insert dies on a missing table. The
    * driver's own escape string guards the metacharacters where the
    * driver has one (DuckDB's returns null — no escape syntax at all),
    * and the rows that come back are re-checked against the EXACT name
    * so a wildcard match of some other table can never count.
    *
    * The type filter lists both spellings of "plain table": JDBC's
    * conventional "TABLE" (Derby, Postgres) and information_schema's
    * "BASE TABLE" (DuckDB) — filtering on "TABLE" alone makes the
    * probe blind on DuckDB and every ensure dies re-CREATE-ing. */
  private[streaming] def ledgerExists(conn: Connection): Boolean = {
    val md = conn.getMetaData
    val esc = Option(md.getSearchStringEscape).filter(_.nonEmpty)
    def literal(name: String): String = esc match {
      case Some(e) => name.flatMap {
        case c @ ('_' | '%') => e + c
        case c if e.length == 1 && c == e.head => e + c
        case c => c.toString
      }
      case None => name
    }
    Seq(ledgerTable, ledgerTable.toUpperCase, ledgerTable.toLowerCase)
      .distinct.exists { name =>
        val rs = md.getTables(null, null, literal(name),
          Array("TABLE", "BASE TABLE"))
        try {
          var found = false
          while (!found && rs.next())
            found = rs.getString("TABLE_NAME") == name
          found
        } finally rs.close()
      }
  }

  private[streaming] def ensureLedger(conn: Connection): Unit = {
    if (!ledgerExists(conn))
      try conn.createStatement().execute(
        s"""CREATE TABLE $ledgerTable (
           |  batch_id BIGINT NOT NULL,
           |  part_id INT NOT NULL,
           |  n_rows BIGINT NOT NULL,
           |  PRIMARY KEY (batch_id, part_id))""".stripMargin)
      catch {
        // create race, or a folding the probe missed: re-check
        // instead of decoding vendor SQLStates — the table existing
        // is success for an idempotent ensure
        case _: java.sql.SQLException if ledgerExists(conn) => ()
      }
  }

  private def ensureLedger(): Unit = {
    val conn = DriverManager.getConnection(url)
    try ensureLedger(conn) finally conn.close()
  }

  override def write(rawBatch: DataFrame, batchId: Long): Unit = {
    ensureLedger()
    val cols = rawBatch.columns.toSeq
    // deterministic bucket membership across replays/retries: a hash of
    // row CONTENT, not whatever layout the replayed plan produced. It is
    // the partition id `repartition(numPartitions, cols)` gives a row,
    // so ledgers written one task per partition still skip correctly.
    val bucket = pmod(hash(cols.map(col): _*), lit(numPartitions))
    // no fixed count: AQE coalesces a small batch into one task, and a
    // bucket, hashed whole to one shuffle partition, is never split
    val batch = rawBatch.withColumn(JdbcOutboxSink.BucketCol, bucket)
      .repartition(col(JdbcOutboxSink.BucketCol))
    val insertSql = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    val u = url; val lt = ledgerTable; val bs = batchSize
    val nCols = cols.size
    val hook = crashHookKey
    batch.foreachPartition { (rows: Iterator[Row]) =>
      // without AQE most of the spark.sql.shuffle.partitions tasks are
      // empty; they open no connection
      if (rows.hasNext) {
        val conn = DriverManager.getConnection(u)
        try {
          conn.setAutoCommit(false)
          // Re-ensure ON THE TASK'S OWN CONNECTION: the driver-side
          // ensure above uses a connection that is CLOSED before tasks
          // start, and on an embedded per-process database (DuckDB; the
          // observed full-suite race) dropping the last connection tears
          // the instance down — a task reopening the file while that
          // shutdown/checkpoint is in flight can see a database without
          // the ledger and die probing it. Within this connection the
          // DDL is transactionally visible to every later statement; a
          // rolled-back task rolls the CREATE back too, and the replay's
          // re-ensure recreates it — idempotent either way. On a server
          // database this probe is one metadata point-read per task per
          // batch, noise next to the inserts.
          ensureLedger(conn)
          val done = committedBuckets(conn, lt, batchId)
          val st = conn.prepareStatement(insertSql)
          val written = mutable.LinkedHashMap.empty[Int, Long]
          var n = 0L
          rows.foreach { r =>
            val b = r.getInt(nCols)
            if (!done(b)) {
              (0 until nCols).foreach(i => st.setObject(i + 1, r.get(i)))
              st.addBatch(); n += 1
              written(b) = written.getOrElse(b, 0L) + 1
              if (n % bs == 0) st.executeBatch()
            }
          }
          st.executeBatch()
          if (written.nonEmpty) {
            val led = conn.prepareStatement(
              s"INSERT INTO $lt (batch_id, part_id, n_rows) VALUES (?, ?, ?)")
            written.foreach { case (b, nb) =>
              // test seam: JdbcSinkSpec crashes HERE — after the data
              // inserts, before the bucket's ledger insert — to prove
              // atomicity
              hook.foreach(k =>
                JdbcOutboxSink.crashHooks.get(k).foreach(f => f(batchId, b)))
              led.setLong(1, batchId); led.setInt(2, b); led.setLong(3, nb)
              led.addBatch()
            }
            led.executeBatch()
          }
          // also ends the transaction the ledger SELECT opened when every
          // bucket was skipped: conn.close() with a transaction active
          // aborts the task (Derby 25001), and replays could never finish
          conn.commit()
        } catch {
          case e: Throwable =>
            // rollback on a dead connection throws too — keep the task's
            // real failure as the primary, not the rollback's
            try conn.rollback()
            catch { case r: Throwable => e.addSuppressed(r) }
            throw e
        } finally conn.close()
      }
    }
  }

  /** Outbox retention — the pruning the class doc promises. Deletes
    * ledger rows for batches strictly below `keepFromBatchId` and
    * returns the count removed. The contract is the standard outbox
    * one: prune only batches the streaming checkpoint can no longer
    * replay (batchId below the committed offset log); inside the
    * retention window ledger rows are intact, so replays still skip. */
  def pruneLedger(keepFromBatchId: Long): Int = {
    val conn = DriverManager.getConnection(url)
    try {
      // a retention job can start before the stream's first write —
      // no ledger yet means nothing to prune, not an error
      if (!ledgerExists(conn)) 0
      else {
        val st = conn.prepareStatement(
          s"DELETE FROM $ledgerTable WHERE batch_id < ?")
        st.setLong(1, keepFromBatchId)
        st.executeUpdate()
      }
    } finally conn.close()
  }

  /** The buckets of `batchId` already committed: one ledger read per
    * task, a primary-key prefix scan. */
  private def committedBuckets(conn: Connection, lt: String,
      batchId: Long): Set[Int] = {
    val chk = conn.prepareStatement(s"SELECT part_id FROM $lt WHERE batch_id = ?")
    chk.setLong(1, batchId)
    val rs = chk.executeQuery()
    try Iterator.continually(rs).takeWhile(_.next()).map(_.getInt(1)).toSet
    finally rs.close()
  }
}

object JdbcOutboxSink {
  private[streaming] val BucketCol = "_graft_outbox_bucket"

  /** Test-only crash injection, keyed so production constructors never
    * reference it (local-mode tests share one JVM with executors). */
  val crashHooks: TrieMap[String, (Long, Int) => Unit] = TrieMap.empty
}
