package graft

import org.scalatest.funsuite.AnyFunSuite

/** Argument checking of the CLI's command table. Parse level only: no
  * session starts. */
class GraftCliSpec extends AnyFunSuite {
  import GraftCli.{commands, parse, usage}

  private def args(line: String*): GraftCli.Args = parse(line.toList) match {
    case Right((_, a)) => a
    case Left(err) => fail(err)
  }

  test("command names are unique and the usage lists every command") {
    val names = commands.map(_.name)
    assert(names.distinct == names)
    assert(names.size == 89)
    assert(usage.linesIterator.drop(1).map(_.trim.takeWhile(_ != ' ')).toSeq == names)
    commands.foreach { c =>
      val declared = c.required ++ c.optional ++ c.flags
      assert(declared.distinct == declared, c.name)
    }
  }

  test("every command parses its required arguments alone, and not one fewer") {
    commands.foreach { c =>
      assert(parse(c.name :: c.required.toList).isRight, c.name)
      assert(parse(c.name :: c.required.init.toList).isLeft, c.name)
    }
  }

  test("one argument more than a command declares is a usage error") {
    commands.filterNot(_.repeated).foreach { c =>
      val full = c.name :: (c.required ++ c.optional ++ c.flags).toList
      assert(parse(full).isRight, c.name)
      assert(parse(full :+ "extra").isLeft, c.name)
    }
    assert(commands.filter(_.repeated).map(_.name).sorted ==
      Seq("notify-publish", "notify-publish-spool", "orc-footer", "parquet-footer"))
    assert(args("notify-publish", "q", "a", "b", "c").repeated == Seq("a", "b", "c"))
  }

  test("a misspelled flag word is a usage error") {
    assert(parse(List("split", "in", "out", "1000", "hedaer")).isLeft)
    assert(parse(List("prepartition", "in", "out", "3", "8", "17", "gz")).isLeft)
    assert(parse(List("generate")).isLeft)
    assert(parse(List("no-such-command", "x")).isLeft)
    assert(parse(Nil).isLeft)
  }

  test("flags go anywhere after the required positionals; values by declared name") {
    val a = args("stream-notify-split", "q", "o", "c", "100", "gzip", "1", "12", "header")
    assert(a.has("header") && a.has("gzip"))
    assert(a.int("triggerSec", 60) == 1 && a.int("runSec", 0) == 12)
    assert(a("maxBytesPerShard") == "100")
    val s = args("split", "in", "out", "1000")
    assert(!s.has("header") && !s.has("gzip"))
    assertThrows[IllegalArgumentException](s("maxBytes"))
    assertThrows[IllegalArgumentException](s.has("hedaer"))
    assert(args("warc-index", "g", "o", "relative-to=/w").value("relative-to") == Some("/w"))
    assert(args("generate", "o", "10").long("seed", 42L) == 42L)
  }
}
