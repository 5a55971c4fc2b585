package perfbench

/** Checks that the lifecycle model check catches wrong results: a planted
  * wrong row, a missing row, an extra row and a read that serves the head
  * instead of an older version. Exits non-zero on the first miss.
  *
  *   java -cp <harness jar>:<classpath> perfbench.SelfTest */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val m = new Model
    m.cur = Map(1L -> (0, 10L), 2L -> (1, 20L))
    m.publish(1)
    m.cur = m.cur - 1L + (3L -> (2, 30L))
    m.publish(2)
    val v1 = Seq((2L, 1, 20L), (1L, 0, 10L))
    val v2 = Seq((3L, 2, 30L), (2L, 1, 20L))
    val cases = Seq(
      ("head rows in any order match", Model.diff(m.range(2, 0, 9), v2), true),
      ("older version matches", Model.diff(m.range(1, 0, 9), v1), true),
      ("planted wrong value", Model.diff(m.range(2, 0, 9),
        Seq((3L, 2, 31L), (2L, 1, 20L))), false),
      ("missing row", Model.diff(m.range(2, 0, 9), Seq((2L, 1, 20L))), false),
      ("extra row", Model.diff(m.range(2, 0, 9), v2 :+ ((4L, 0, 1L))), false),
      ("head served for an older version", Model.diff(m.range(1, 0, 9), v2),
        false),
      ("range bounds", Model.diff(m.range(2, 3, 3), Seq((3L, 2, 30L))), true))
    val missed = cases.filter { case (_, d, ok) => d.isEmpty != ok }
    missed.foreach { case (n, d, _) => println(s"MISSED $n: '$d'") }
    if (missed.nonEmpty) sys.exit(1)
    println(s"model check: ${cases.size} cases ok")
  }
}
