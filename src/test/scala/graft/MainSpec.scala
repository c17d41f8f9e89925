package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.Main`'s `SPARK_GRAFT_CPUS` parsing. */
class MainSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS defaults to nproc and accepts 1..nproc") {
    assert(Main.cpus(None, 4) == Right(4))
    assert(Main.cpus(Some("1"), 4) == Right(1))
    assert(Main.cpus(Some(" 4 "), 4) == Right(4))
  }

  test("SPARK_GRAFT_CPUS outside 1..nproc or not a whole number is refused") {
    Seq("0", "5", "8", "-1", "+2", "2.5", "", "four", "99999999999").foreach { raw =>
      val r = Main.cpus(Some(raw), 4)
      assert(r.isLeft, s"$raw accepted")
      assert(r.left.exists(_.contains("from 1 to nproc (4)")))
    }
  }
}
