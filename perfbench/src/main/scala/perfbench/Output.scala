package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes the run's raw record: `result.json` (samples, counters, resource
  * state, verification) and, for traced runs, `spans.jsonl`. */
object Output {

  /** A one-line, JSON-safe error message. */
  def clean(t: Throwable): String =
    Option(t.toString).getOrElse("error")
      .replaceAll("[\\x00-\\x1f]", " ").take(300)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def write(o: Opts, r: RunResult, setupS: Double, liveMb: Double,
      gcS: Double, rssMb: Double): Unit = {
    val samples = r.samples.map(s => obj("id" -> s.id.toString,
      "pass" -> s.pass.toString, "name" -> str(s.name), "kind" -> str(s.kind),
      "fn_s" -> num(s.fnS), "sink_s" -> num(s.sinkS), "ok" -> s.ok.toString,
      "traced" -> s.traced.toString, "start" -> num(s.start),
      "end" -> num(s.end), "error" -> str(s.error)))
    val res = r.resources.map(x => obj("op" -> x.op.toString,
      "streams_active" -> x.streamsActive.toString,
      "persisted_rdds" -> x.persistedRdds.toString,
      "heap_used_mb" -> num(x.heapUsedMb), "scratch_mb" -> num(x.scratchMb),
      "local_mb" -> num(x.localMb)))
    val counters = (Trace.allCounters ++ r.extra ++ Map(
      "jvm.gc_s" -> gcS, "jvm.heap_live_mb_end" -> liveMb))
      .toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }
    val json = obj(
      "workload" -> str(o.workload), "seed" -> o.seed.toString,
      "cores" -> o.cores.toString, "trace" -> o.trace.toString,
      "setup_s" -> num(setupS), "timed_wall_s" -> num(r.timedWallS),
      "untraced_units" -> r.untracedUnits.toString,
      "peak_rss_mb" -> num(rssMb),
      "passes" -> arr(r.passWallS.map { case (p, t, w) =>
        obj("pass" -> p.toString, "traced" -> t.toString, "wall_s" -> num(w))
      }),
      "samples" -> arr(samples),
      "warm_attempted" -> r.warmAttempted.toString,
      "warm_failures" -> obj(r.warmFailures.map { case (k, v) =>
        k -> str(v) }: _*),
      "verified" -> arr(r.verified.map(str)),
      "oracle" -> obj(r.oracle.toSeq.sorted.map { case (k, v) =>
        k -> str(v) }: _*),
      "resources" -> arr(res),
      "counters" -> obj(counters: _*))
    Files.write(Paths.get(o.out, "result.json"), json.getBytes(UTF_8))
    if (o.trace) {
      val ops = r.samples.filter(_.traced).map(s =>
        Span(s.id, 0L, s.id, "op", s.name, s.start, s.end))
      val lines = (ops ++ Trace.allSpans).map(s => obj("id" -> s.id.toString,
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "layer" -> str(s.layer), "name" -> str(s.name),
        "start" -> num(s.start), "end" -> num(s.end)))
      Files.write(Paths.get(o.out, "spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
