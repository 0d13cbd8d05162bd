package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every bounded driver collect in `src/main` goes through the one gate,
  * `graft.ops.Arms.gate`: a `limit(n + 1)` followed by a `collect` anywhere
  * else is a hand-rolled gate, with its own arm choice and its own
  * override. Comments and string literals are not code.
  */
class GateGuardSpec extends AnyFunSuite {

  /** `src` with every comment and string-literal character blanked, so
    * offsets (and line numbers) stay those of the file. */
  private def codeOf(src: String): String = {
    val out = src.toCharArray
    def blank(from: Int, until: Int): Unit =
      (from until math.min(until, out.length)).foreach(k => if (out(k) != '\n') out(k) = ' ')
    def after(token: String, from: Int): Int = {
      val j = src.indexOf(token, from)
      if (j < 0) src.length else j + token.length
    }
    var i = 0
    while (i < src.length) {
      val end =
        if (src.startsWith("//", i)) after("\n", i) - 1
        else if (src.startsWith("/*", i)) after("*/", i + 2)
        else if (src.startsWith("\"\"\"", i)) after("\"\"\"", i + 3)
        else if (src.charAt(i) == '"') {
          var j = i + 1
          while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
            j += (if (src.charAt(j) == '\\') 2 else 1)
          j + 1
        } else if (src.startsWith("'\\", i)) after("'", i + 3)
        else if (src.charAt(i) == '\'' && i + 2 < src.length && src.charAt(i + 2) == '\'') i + 3
        else -1
      if (end < 0) i += 1 else { blank(i, end); i = end }
    }
    new String(out)
  }

  private val limitPlusOne = """\.limit\s*\(""".r
  private val plusOne = """\+\s*1(?![0-9.])""".r
  private val collect = """\bcollect\b""".r

  /** (file, line) of every `limit(… + 1)` with a `collect` in the 200
    * characters after it. */
  private def sites(root: Path): Seq[(String, Int)] = {
    val walk = Files.walk(root)
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
      finally walk.close()
    files.flatMap { f =>
      val code = codeOf(new String(Files.readAllBytes(f), "UTF-8"))
      limitPlusOne.findAllMatchIn(code).flatMap { m =>
        var depth = 1
        var j = m.end
        while (j < code.length && depth > 0) {
          if (code.charAt(j) == '(') depth += 1 else if (code.charAt(j) == ')') depth -= 1
          j += 1
        }
        val arg = code.substring(m.end, j - 1)
        val next = code.substring(j, math.min(j + 200, code.length))
        if (plusOne.findFirstIn(arg).isDefined && collect.findFirstIn(next).isDefined)
          Some(root.relativize(f).toString -> (code.substring(0, m.start).count(_ == '\n') + 1))
        else None
      }
    }
  }

  test("src/main collects limit(n + 1) of a frame only inside Arms.gate") {
    val found = sites(Paths.get("src/main/scala"))
    val (gate, elsewhere) = found.partition(_._1 == "graft/ops/Arms.scala")
    assert(gate.size == 1, s"the scan no longer finds the gate's own collect: $found")
    assert(elsewhere.isEmpty,
      s"hand-rolled gates (route them through graft.ops.Arms.gate): ${elsewhere.mkString(", ")}")
  }

  test("the scan ignores comments and strings, and sees a multi-line chain") {
    val dir = Files.createTempDirectory(Paths.get("target"), "gate-guard")
    try {
      val f = dir.resolve("Planted.scala")
      Files.write(f, Seq(
        "// df.limit(cap + 1).collect()",
        "val msg = \"limit(cap + 1) then collect\"",
        "val ok = df.limit(cap + 10).collect()",
        "val bad = df.limit(rows + 1)",
        "  .as[Row]",
        "  .collect()").mkString("\n").getBytes("UTF-8"))
      assert(sites(dir) == Seq("Planted.scala" -> 4))
      Files.delete(f)
    } finally Files.delete(dir)
  }
}
