package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Snapshots

/** `snapshot_ingest`: one long-lived partition-granular snapshot table
  * grown by a closed loop of verbs. Per round:
  *
  *   - append: the round's batch file lands in the stream's input dir
  *     and an `AvailableNow` file stream commits it through
  *     `foreachBatch` → `Snapshots.txnAppend` (exactly-once by batch id);
  *   - every third round, a planted replay: `txnAppend` of an already
  *     committed batch id, which must be skipped;
  *   - `mergeTransform` upsert of the round's upsert file;
  *   - `commitReplace` of partition `round % 8` (quantity + 1);
  *   - after each of those three writes, three range reads on random
  *     `l_orderkey` windows, alternating `readRange` and a SQL read
  *     through `format("graft-snapshot")`;
  *   - `cdc` between the round's first and last version;
  *   - every fourth round, `compactPartitioned` and `expire`.
  *
  * An in-benchmark model (key → row) follows every write; every read's
  * row count and the final table content are checked against it
  * outside the timed calls. */
final class SnapshotIngest(spark: SparkSession, in: String, work: String,
    run: Runner, seed: Long) {
  private val root = s"$work/snap/table"
  private val incoming = s"$work/snap/incoming"
  private val ckpt = s"$work/snap/checkpoint"
  private val keys = Seq("l_orderkey", "l_linenumber")
  type Key = (Long, Int)
  private var model = Map.empty[Key, Row]
  private var batchesDf: DataFrame = _
  private var upsertsDf: DataFrame = _
  private val rnd = new scala.util.Random(seed)
  val failures = mutable.ArrayBuffer.empty[String]
  var replaysIssued = 0
  var replaysSkipped = 0
  private var ingestedBytes = 0L
  private var nBatches = 0

  private def key(r: Row): Key = (r.getLong(0), r.getInt(1))
  private def batchFile(b: Int) = f"$in/snap/batches/b$b%04d.parquet"
  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** Set-up of the long-lived table: the base-table cache build (batch
    * and upsert files, read once and cached), the seed commit from
    * batch 0, and one warm-up round (round 0) so the measured rounds
    * start with every verb's plan shapes compiled. Returns the seconds
    * of the cache build and of the whole set-up, model bookkeeping
    * excluded. */
  def setup(): (Double, Double) = {
    val t0 = System.nanoTime()
    nBatches = new java.io.File(s"$in/snap/batches").list().count(_.endsWith(".parquet"))
    batchesDf = spark.read.parquet(s"$in/snap/batches").cache()
    upsertsDf = spark.read.parquet(s"$in/snap/upserts")
      .withColumn("u", org.apache.spark.sql.functions.input_file_name()).cache()
    batchesDf.count(); upsertsDf.count()
    val cacheS = (System.nanoTime() - t0) / 1e9
    Snapshots.commitPartitioned(spark, root, spark.read.parquet(batchFile(0)), "p", 0L)
    new java.io.File(incoming).mkdirs()
    val t1 = System.nanoTime()
    model = rowsOf(spark.read.parquet(batchFile(0))).map(r => key(r) -> r).toMap
    ingestedBytes = new java.io.File(batchFile(0)).length()
    census()
    val t2 = System.nanoTime()
    round(0)
    census()
    (cacheS, ((t1 - t0) + (System.nanoTime() - t2)) / 1e9)
  }

  def canRun(r: Int): Boolean = r + 1 < nBatches

  private def upsert(r: Int): DataFrame =
    upsertsDf.filter(col("u").endsWith(f"u$r%04d.parquet")).drop("u")

  private def checkCount(op: Op, expected: Long): Unit =
    if (op.ok && op.rows != expected)
      failures += s"${op.kind}:${op.name} round ${op.round}: rows ${op.rows} != model $expected"

  private def window(): (Long, Long) = {
    val ks = model.keysIterator.map(_._1).toIndexedSeq
    val lo = ks(rnd.nextInt(ks.size))
    (lo, lo + 40 + rnd.nextInt(200))
  }
  private def inWindow(w: (Long, Long)) =
    model.count { case ((k, _), _) => k >= w._1 && k <= w._2 }.toLong

  private def readRange(r: Int): Unit = {
    val w = window()
    checkCount(run.query(r, "read", "read_range") {
      Snapshots.readRange(spark, root, "l_orderkey", w._1, w._2)
    }, inWindow(w))
  }

  private def sqlRead(r: Int): Unit = {
    val w = window()
    checkCount(run.query(r, "read", "sql_read") {
      spark.read.format("graft-snapshot").option("path", root).load()
        .createOrReplaceTempView("perfbench_snap")
      spark.sql(s"SELECT * FROM perfbench_snap WHERE l_orderkey BETWEEN ${w._1} AND ${w._2}")
    }, inWindow(w))
  }

  /** `n` range reads after a write, alternating the two read paths. */
  private def reads(r: Int, n: Int): Unit =
    (0 until n).foreach(i => if ((r + i) % 2 == 0) readRange(r) else sqlRead(r))

  def round(r: Int): Unit = {
    val vStart = Snapshots.latest(spark, root).get
    val before = model
    // append through the exactly-once streaming sink
    val b = r + 1
    java.nio.file.Files.copy(new java.io.File(batchFile(b)).toPath,
      new java.io.File(f"$incoming/b$b%04d.parquet").toPath)
    val schema = batchesDf.schema
    val sink: (DataFrame, Long) => Unit = (df, id) =>
      Snapshots.txnAppend(df.sparkSession, root, df, id, partCol = Some("p"))
    run.eager(r, "write", "txn_append") {
      val q = spark.readStream.schema(schema).parquet(incoming)
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).foreachBatch(sink).start()
      q.awaitTermination()
      1L
    }
    val added = rowsOf(spark.read.parquet(batchFile(b)))
    model ++= added.map(row => key(row) -> row)
    ingestedBytes += new java.io.File(batchFile(b)).length()
    reads(r, 3)

    if (r % 3 == 2) {
      replaysIssued += 1
      // the stream's batch id q committed batch file q + 1 in round q
      val op = run.eager(r, "write", "txn_append_replay") {
        if (Snapshots.txnAppend(spark, root, spark.read.parquet(batchFile(r)), (r - 1).toLong,
          partCol = Some("p"))) 1L else 0L
      }
      if (op.ok && op.rows == 0L) replaysSkipped += 1
    }

    val up = upsert(r)
    run.eager(r, "write", "merge") {
      Snapshots.mergeTransform(spark, root, "p", up, keys)
    }
    model ++= rowsOf(up.select(batchesDf.columns.map(col).toIndexedSeq: _*)).map(row => key(row) -> row)
    ingestedBytes += new java.io.File(f"$in/snap/upserts/u$r%04d.parquet").length()
    reads(r, 3)

    val part = r % 8
    run.eager(r, "write", "replace") {
      val parent = Snapshots.latest(spark, root).get
      val next = Snapshots.readAsOf(spark, root, parent).filter(col("p") === part)
        .withColumn("l_quantity", col("l_quantity") + 1.0)
      Snapshots.commitReplace(spark, root, next, "p", parent)
    }
    model = model.map { case (k, row) =>
      if (row.getInt(2) != part) k -> row
      else k -> Row.fromSeq(row.toSeq.updated(3, row.getDouble(3) + 1.0))
    }
    reads(r, 3)

    val vEnd = Snapshots.latest(spark, root).get
    val changed = (model.keySet ++ before.keySet).count(k => model.get(k) != before.get(k)).toLong
    checkCount(run.query(r, "read", "cdc") {
      Snapshots.cdc(spark, root, vStart, vEnd, keys)
    }, changed)

    if (r % 4 == 3) {
      run.eager(r, "write", "compact") { Snapshots.compactPartitioned(spark, root, "p") }
      run.eager(r, "write", "expire") {
        Snapshots.expire(spark, root, keepLast = 3, orphanGraceMs = 0L).size.toLong
      }
    }
  }

  /** Final content check against the model (untimed). */
  def checkFinal(): Unit = {
    val got = rowsOf(Snapshots.read(spark, root).select(batchesDf.columns.map(col).toIndexedSeq: _*))
    val gotMap = got.map(r => key(r) -> r).toMap
    if (got.size != model.size || gotMap != model)
      failures += s"final content: ${got.size} rows vs model ${model.size}" +
        s" (${(gotMap.keySet ++ model.keySet).count(k => gotMap.get(k) != model.get(k))} keys differ)"
    if (replaysSkipped != replaysIssued)
      failures += s"replays skipped $replaysSkipped of $replaysIssued issued"
  }

  private def dirBytes(d: java.io.File): Long =
    if (d.isFile) d.length()
    else Option(d.listFiles()).toSeq.flatten.map(dirBytes).sum

  /** Storage-side figures of the table at this point. */
  def storage(): Map[String, Double] = {
    val (bytesCreated, filesCreated) = created
    val latest = Snapshots.latest(spark, root).get
    val dirs = Snapshots.manifestDirs(spark, root, latest)
    val latestBytes = dirs.map(d => dirBytes(new java.io.File(d.stripPrefix("file:")))).sum
    val rootBytes = dirBytes(new java.io.File(root))
    // the same key range through both read paths: which files each plans over
    val rangeFiles = Snapshots.readRange(spark, root, "l_orderkey", 0L, 50L).inputFiles.length
    val sqlFiles = spark.read.format("graft-snapshot").option("path", root).load()
      .filter(col("l_orderkey").between(0L, 50L)).inputFiles.length
    Map(
      "write_amp" -> bytesCreated.toDouble / math.max(ingestedBytes, 1L),
      "space_amp" -> rootBytes.toDouble / math.max(latestBytes, 1L),
      "manifest_entries" -> dirs.size.toDouble,
      "read_range_files" -> rangeFiles.toDouble,
      "sql_files" -> sqlFiles.toDouble,
      "bytes_written_mb" -> bytesCreated / 1048576.0,
      "files_created" -> filesCreated.toDouble)
  }

  /** Bytes and files ever created under the table root: a file-creation
    * census taken after every round (data files are immutable, so a
    * path seen once is never counted again). */
  private val seen = mutable.HashMap.empty[String, Long]
  def census(): Unit = {
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (!seen.contains(f.getPath)) seen(f.getPath) = f.length()
    walk(new java.io.File(root))
  }
  private def created: (Long, Long) = (seen.values.sum, seen.size.toLong)
}
