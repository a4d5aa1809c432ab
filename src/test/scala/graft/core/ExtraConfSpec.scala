package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_EXTRA_CONF` is the A/B hook of every main, so a typo in
  * it must stop the run instead of silently measuring the default arm.
  */
class ExtraConfSpec extends AnyFunSuite {

  test("well-formed entries parse to trimmed key/value pairs") {
    assert(Graft.parseExtraConf(" spark.graft.chunkNumbering = sampled ;a.b=x=y") ==
      Seq("spark.graft.chunkNumbering" -> "sampled", "a.b" -> "x=y"))
  }

  test("empty input and blank entries are skipped") {
    assert(Graft.parseExtraConf("").isEmpty)
    assert(Graft.parseExtraConf("a=1;; ;") == Seq("a" -> "1"))
  }

  test("a malformed entry fails, naming the entry") {
    Seq("spark.graft.chunkNumbering:sampled", "=sampled", "spark.graft.chunkNumbering=")
      .foreach { bad =>
        val e = intercept[IllegalArgumentException](Graft.parseExtraConf(s"a=1;$bad"))
        assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
      }
  }
}
