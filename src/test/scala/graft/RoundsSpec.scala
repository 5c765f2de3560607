package graft

import org.scalatest.funsuite.AnyFunSuite

/** The class files that declare the RDD loops' per-round closures stay
  * small. Spark's closure cleaner reads and ASM-walks the whole class
  * file that declares a lambda, on every closure handed to an RDD op,
  * and caches nothing; so each round pays one parse per closure of
  * whatever class declared it. Declared in `GraphOps$` (271 KB), one
  * parse cost ~2.8 ms and the parses were half of a small SSSP round's
  * driver time.
  */
class RoundsSpec extends AnyFunSuite {

  private val roundObjects =
    Seq(
      "Rounds$", "SsspRounds$", "ComponentRounds$", "PeelRounds$", "MaskRounds$",
      "RankRounds$", "PrefixJoin$")

  test("every round object's class file stays under 64 KB") {
    roundObjects.foreach { name =>
      val in = getClass.getResourceAsStream(s"/graft/operators/$name.class")
      assert(in != null, s"$name.class not on the classpath")
      val size =
        try in.readAllBytes().length
        finally in.close()
      assert(size < 64 * 1024, s"$name.class is $size bytes")
    }
  }
}
