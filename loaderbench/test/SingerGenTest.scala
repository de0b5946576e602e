package loaderbench

import java.nio.file.{Files, Path, Paths}

/** Generator test: the same seed gives byte-identical input and the same
  * expected tally, another seed gives different ones, and the tally does
  * not depend on row order.
  *
  * {{{ SingerGenTest <scratch-dir> }}} — exits non-zero on failure.
  */
object SingerGenTest {
  private var checks = 0
  private def check(cond: Boolean, what: String): Unit = {
    checks += 1
    if (!cond) throw new AssertionError(what)
  }

  private def bytes(p: Path): Seq[Byte] =
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.sorted.toArray.toSeq.flatMap(f => bytes(f.asInstanceOf[Path]))
      finally s.close()
    } else Files.readAllBytes(p).toSeq

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    def gen(w: Workload, seed: Long, tag: String, n: Int) =
      w.generate(seed, dir.resolve(s"${w.name}-$tag"), n)
    Seq(Workload.compactTrickle, Workload.versionedMultistream).foreach { w =>
      val a = gen(w, 7, "a", 2)
      val b = gen(w, 7, "b", 2)
      val c = gen(w, 8, "c", 2)
      a.indices.foreach { i =>
        check(bytes(a(i).path) == bytes(b(i).path), s"${w.name}: seed 7 input $i differs")
        check(a(i).expect == b(i).expect, s"${w.name}: seed 7 tally $i differs")
        check(bytes(a(i).path) != bytes(c(i).path), s"${w.name}: seeds 7 and 8 give one input")
        check(a(i).expect != c(i).expect, s"${w.name}: seeds 7 and 8 give one tally")
        check(a(i).expect.values.forall(_.rows == a(i).records / w.streams.size),
          s"${w.name}: tally rows differ from records")
      }
      check(bytes(a(0).path) != bytes(a(1).path), s"${w.name}: syncs 0 and 1 give one input")
    }

    val r = SingerGen.rng(3, 0)
    val rows = Seq.tabulate(50)(i => SingerGen.record(r, i)._2)
    val forward = rows.foldLeft(Tally.Empty)(_ add _)
    check(forward == rows.reverse.foldLeft(Tally.Empty)(_ add _), "tally depends on row order")
    check(forward != rows.tail.foldLeft(Tally.Empty)(_ add _), "tally misses a dropped row")
    check(forward != (rows :+ rows.head).foldLeft(Tally.Empty)(_ add _),
      "tally misses a duplicated row")
    check(rows.forall(_.length == SingerGen.Columns.size), "row width differs from Columns")
    println(s"SingerGenTest: $checks checks passed")
  }
}
