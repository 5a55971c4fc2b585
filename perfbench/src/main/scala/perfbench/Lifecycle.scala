package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ops.{Manifest, Merge}

/** The plain-Scala model of a lifecycle table: live rows `id -> (k, v)` at
  * the head, and the content of every version a read may still ask for. */
final class Model {
  var cur: Map[Long, (Int, Long)] = Map.empty
  val versions = mutable.Map.empty[Long, Map[Long, (Int, Long)]]
  var head = 0L
  var nextId = 0L

  def publish(v: Long): Unit = { head = v; versions(v) = cur }
  /** Rows with `lo <= id <= hi` at version `v`, sorted by id. */
  def range(v: Long, lo: Long, hi: Long): Seq[(Long, Int, Long)] =
    versions(v).iterator.collect { case (id, (k, x)) if id >= lo && id <= hi =>
      (id, k, x) }.toSeq.sortBy(_._1)
}

object Model {
  /** Empty when `got` equals the model's rows, else what differs. */
  def diff(expected: Seq[(Long, Int, Long)],
      got: Seq[(Long, Int, Long)]): String = {
    val g = got.sortBy(_._1)
    if (g == expected) ""
    else {
      val missing = expected.diff(g).take(3)
      val extra = g.diff(expected).take(3)
      s"expected ${expected.size} rows, got ${g.size}; " +
        s"missing ${missing.mkString(" ")}; unexpected ${extra.mkString(" ")}"
    }
  }
}

/** `table-lifecycle`: blocks of reads and writes on a table the benchmark
  * owns. Writes are appends (`Manifest.commit`), keyed upserts
  * (`Merge.upsert`), deletion-vector deletes (`Merge.deleteWhereDv`) and
  * SQL `DELETE`, `UPDATE` and `MERGE INTO` through the graft catalog;
  * every 6th write is followed by `OPTIMIZE` and every 8th by
  * `VACUUM RETAIN 5 VERSIONS`. Reads are point, range, time-travel
  * (`Manifest.read(asOf)`), SQL `VERSION AS OF` and history reads. Every
  * read is checked against the model, older versions included. */
object Lifecycle extends Workload {
  val name = "table-lifecycle"
  /** Timed ops per `--seconds`, sized on a 4-core host; the timed phase
    * runs whole blocks. */
  val OpsPerSecond = 2.5
  val Retain = 5
  val OptimizeEvery = 6
  val VacuumEvery = 8
  /** Appends that grow the version chain before the timed phase. */
  val SetupAppends = 4

  /** One block of ops, the same for every seed: 8 writes spread among 12
    * reads. A seed draws the rows, keys and versions each op uses. The
    * order is fixed because read cost depends on the table's state (a
    * version carrying deletion vectors reads through an anti-join until
    * OPTIMIZE absorbs them), so a seeded order would make the seed, not
    * the program, move the figures. */
  val block: Seq[String] = Seq("append", "point_read", "upsert",
    "range_read", "dv_delete", "tt_read", "point_read", "sql_update",
    "range_read", "sql_read", "append", "point_read", "sql_delete",
    "tt_read", "upsert", "range_read", "sql_merge", "point_read",
    "sql_read", "history")
  val readKinds: Set[String] =
    Set("point_read", "range_read", "tt_read", "sql_read", "history")

  def run(spark: SparkSession, o: Opts, scratch: ScratchRoot): RunResult = {
    val base = s"${o.work}/lifecycle"
    graft.queries.QueryDSL.wipe(base)
    val t = new Table(spark, s"$base/main", new Random(o.seed))
    // set-up: grow the chain, then warm every op kind once
    t.pending = List.fill(SetupAppends)("append") ++ block.distinct ++
      List("optimize", "vacuum")
    t.drain(pass = -1, traced = false)
    val setupEnd = Trace.nowMs()
    val gc0 = Harness.gcSeconds()
    val nominal = o.seconds * OpsPerSecond / block.size
    val blocks = Harness.units(o, nominal)
    val res = mutable.ArrayBuffer.empty[Resources]
    Trace.enabled = o.trace
    val t0 = System.nanoTime()
    val blockWall = (0 until blocks).map { b =>
      val bs = System.nanoTime()
      t.pending = block.toList
      t.drain(pass = b, o.trace, id =>
        if (o.trace) res += Harness.resources(spark, id, scratch, o.work))
      (b, o.trace, (System.nanoTime() - bs) / 1e9)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Trace.stop(spark)
    val warm = t.samples.filter(_.pass < 0)
    val warmFailures = warm.filterNot(_.ok)
      .map(s => s"${s.name}#${s.id}" -> s.error)
    val tbl = new File(t.path)
    val extra = Map(
      "lifecycle.space_amp" -> t.spaceAmp(s"$base/live_once"),
      "manifest.meta_files_end" -> Harness.dirFiles(
        new File(tbl, "_manifests"), _ => true).toDouble,
      "manifest.meta_bytes_end" -> Harness.dirBytes(
        new File(tbl, "_manifests")).toDouble,
      "manifest.data_files_end" -> Harness.dirFiles(tbl,
        _.getName.endsWith(".parquet")).toDouble,
      "lifecycle.versions" -> t.model.head.toDouble)
    RunResult(setupEnd, gc0, wall, blockWall,
      Harness.units(o.copy(trace = false), nominal), t.samples.toSeq, warm.size,
      warmFailures.toSeq, Seq.empty, Map.empty, res.toSeq, extra)
  }

  /** One lifecycle table, its model and its op log. Op parameters come
    * from `rnd` and the model, so a seed fixes the whole sequence. */
  final class Table(spark: SparkSession, val path: String, rnd: Random) {
    import spark.implicits._
    val model = new Model
    val samples = mutable.ArrayBuffer.empty[OpSample]
    private var writes = 0
    var pending = List.empty[String]
    private val sqlT = s"graft.`$path`"

    private def rows(n: Int, reuse: Int): Seq[(Long, Int, Long)] = {
      val old = if (model.cur.isEmpty) Seq.empty
        else rnd.shuffle(model.cur.keys.toSeq.sorted).take(reuse)
      val fresh = (0 until n - old.size).map(_ => { model.nextId += 1;
        model.nextId })
      (old ++ fresh).map(id => (id, rnd.nextInt(8), rnd.nextInt(1000000).toLong))
    }

    private def someId(): Long =
      if (model.cur.nonEmpty && rnd.nextInt(10) < 7)
        model.cur.keys.toSeq.sorted.apply(rnd.nextInt(model.cur.size))
      else rnd.nextLong().abs % (model.nextId + 10)

    private def readVersion(): Long = {
      val live = model.versions.keys.filter(_ > model.head - Retain + 1).toSeq
      live.sorted.apply(rnd.nextInt(live.size))
    }

    /** Runs the pending ops, and the maintenance they schedule, in order;
      * `after` sees each op's id once it is done. */
    def drain(pass: Int, traced: Boolean,
        after: Long => Unit = _ => ()): Unit =
      while (pending.nonEmpty) {
        val kind = pending.head
        pending = pending.tail
        after(step(kind, pass, traced))
      }

    private def step(kind: String, pass: Int, traced: Boolean): Long = {
      val id = Trace.nextId()
      val start = Trace.nowMs()
      val s0 = System.nanoTime()
      var s1 = 0L
      var check: () => String = () => ""
      val err = Harness.asOp(spark, id) {
        try {
          check = op(kind, () => s1 = System.nanoTime())
          ""
        } catch { case t: Throwable => Output.clean(t) }
      }
      val s2 = System.nanoTime()
      if (s1 == 0L) s1 = s2
      val end = Trace.nowMs()
      Trace.opDone(id, start, end)
      // the model check runs outside the op's time
      val wrong = if (err.isEmpty) check() else ""
      val isRead = readKinds.contains(kind)
      samples += OpSample(id, pass, kind, if (isRead) "read" else "write",
        (s1 - s0) / 1e9, (s2 - s1) / 1e9, err.isEmpty && wrong.isEmpty,
        traced, start, end, if (err.nonEmpty) err else wrong)
      if (!isRead && err.isEmpty && kind != "optimize" && kind != "vacuum") {
        writes += 1
        if (writes % OptimizeEvery == 0) pending :+= "optimize"
        if (writes % VacuumEvery == 0) pending :+= "vacuum"
      }
      id
    }

    private def published(): Unit = {
      val v = Trace.call("manifest", "Manifest.version",
        "manifest.version_s")(Manifest.version(path))
      if (v != model.head && Trace.enabled) Trace.count("manifest.commits")
      model.publish(v)
      model.versions.keys.filter(_ <= v - Retain).toSeq
        .foreach(model.versions.remove)
    }

    private def sql(name: String, key: String, stmt: String): Unit =
      Trace.call("sql", name, key)(spark.sql(stmt).collect())

    private def collectRows(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Int, Long)] =
      df.select("id", "k", "v").as[(Long, Int, Long)].collect().toSeq

    /** Runs op `kind`; `fnDone` marks the end of its eager call. Returns
      * the model check for the op's result. */
    private def op(kind: String, fnDone: () => Unit): () => String =
      kind match {
      case "append" =>
        val rs = rows(20 + rnd.nextInt(60), 0)
        Trace.call("manifest", "Manifest.commit", "manifest.commit_s")(
          Manifest.commit(rs.toDF("id", "k", "v"), path,
            statsCols = Seq("id")))
        model.cur ++= rs.map { case (i, k, v) => i -> (k, v) }
        published(); () => ""
      case "upsert" =>
        val rs = rows(10 + rnd.nextInt(30), 5 + rnd.nextInt(10))
        val st = Trace.call("merge", "Merge.upsert", "merge.upsert_s")(
          Merge.upsert(spark, path, rs.toDF("id", "k", "v"), Seq("id")))
        if (Trace.enabled) {
          Trace.count("merge.files_rewritten", st.filesRewritten)
          Trace.count("merge.files_before", st.filesBefore)
        }
        model.cur ++= rs.map { case (i, k, v) => i -> (k, v) }
        published(); () => ""
      case "dv_delete" =>
        val (k, r) = (rnd.nextInt(8), rnd.nextInt(7))
        Trace.call("merge", "Merge.deleteWhereDv", "merge.delete_dv_s")(
          Merge.deleteWhereDv(spark, path, col("k") === k && col("id") % 7 === r))
        model.cur = model.cur.filterNot { case (i, (kk, _)) =>
          kk == k && i % 7 == r }
        published(); () => ""
      case "sql_delete" =>
        val r = rnd.nextInt(13)
        val lo = rnd.nextLong().abs % (model.nextId + 1)
        val hi = lo + 200
        sql("SQL DELETE", "plans.dml_s",
          s"DELETE FROM $sqlT WHERE id % 13 = $r AND id BETWEEN $lo AND $hi")
        model.cur = model.cur.filterNot { case (i, _) =>
          i % 13 == r && i >= lo && i <= hi }
        published(); () => ""
      case "sql_update" =>
        val (k, r, c) = (rnd.nextInt(8), rnd.nextInt(5), 1 + rnd.nextInt(100))
        sql("SQL UPDATE", "plans.dml_s",
          s"UPDATE $sqlT SET v = v + $c WHERE k = $k AND id % 5 = $r")
        model.cur = model.cur.map { case (i, (kk, v)) =>
          if (kk == k && i % 5 == r) i -> (kk, v + c) else i -> (kk, v) }
        published(); () => ""
      case "sql_merge" =>
        val rs = rows(10 + rnd.nextInt(20), 5 + rnd.nextInt(10))
        rs.toDF("id", "k", "v").createOrReplaceTempView("perfbench_src")
        sql("SQL MERGE", "plans.dml_s",
          s"MERGE INTO $sqlT AS t USING perfbench_src AS s ON t.id = s.id " +
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        model.cur ++= rs.map { case (i, k, v) => i -> (k, v) }
        published(); () => ""
      case "optimize" =>
        sql("SQL OPTIMIZE", "plans.maintenance_s", s"OPTIMIZE $sqlT")
        published(); () => ""
      case "vacuum" =>
        sql("SQL VACUUM", "plans.maintenance_s",
          s"VACUUM $sqlT RETAIN $Retain VERSIONS")
        () => ""
      case "point_read" =>
        val i = someId()
        val df = Trace.call("manifest", "Manifest.read",
          "manifest.read_resolve_s")(Manifest.read(spark, path))
        fnDone()
        val got = collectRows(df.filter(col("id") === i))
        val v = model.head
        () => Model.diff(model.range(v, i, i), got)
      case "range_read" =>
        val lo = rnd.nextLong().abs % (model.nextId + 1)
        val df = Trace.call("manifest", "Manifest.read",
          "manifest.read_resolve_s")(Manifest.read(spark, path))
        fnDone()
        val got = collectRows(df.filter(col("id").between(lo, lo + 100)))
        val v = model.head
        () => Model.diff(model.range(v, lo, lo + 100), got)
      case "tt_read" =>
        val v = readVersion()
        val lo = rnd.nextLong().abs % (model.nextId + 1)
        val df = Trace.call("manifest", "Manifest.read",
          "manifest.read_resolve_s")(Manifest.read(spark, path, asOf = v))
        fnDone()
        val got = collectRows(df.filter(col("id").between(lo, lo + 300)))
        () => Model.diff(model.range(v, lo, lo + 300), got)
      case "sql_read" =>
        val v = readVersion()
        val lo = rnd.nextLong().abs % (model.nextId + 1)
        val df = Trace.call("sql", "SQL VERSION AS OF", "plans.sql_read_s")(
          spark.sql(s"SELECT id, k, v FROM $sqlT VERSION AS OF $v " +
            s"WHERE id BETWEEN $lo AND ${lo + 300}"))
        fnDone()
        val got = collectRows(df)
        () => Model.diff(model.range(v, lo, lo + 300), got)
      case "history" =>
        val h = Trace.call("manifest", "Manifest.history",
          "manifest.history_s")(Manifest.history(spark, path))
        val v = model.head
        () => if (h.nonEmpty && h.map(_.version).max == v) ""
          else s"history ends at ${h.map(_.version).maxOption}, head is $v"
    }

    /** Bytes on disk under the table over the bytes of its live rows
      * written once as one parquet file. */
    def spaceAmp(scratchDir: String): Double = {
      model.cur.toSeq.map { case (i, (k, v)) => (i, k, v) }
        .toDF("id", "k", "v").coalesce(1).write.mode("overwrite")
        .parquet(scratchDir)
      val bytes = Option(new File(scratchDir).listFiles).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      Harness.dirBytes(new File(path)).toDouble / math.max(1L, bytes)
    }
  }
}
