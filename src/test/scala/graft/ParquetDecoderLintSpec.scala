package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Pins Spark's vectorized reader (sources/GraftVectorized.scala) as the
  * engine's one Parquet decoder and Spark's Parquet writer as its one
  * encoder: no main source may bring back a row-at-a-time parquet-mr
  * reader or writer beside them. Table data has one read path, the
  * Graft scan, on the SQL and the library face alike. */
class ParquetDecoderLintSpec extends AnyFunSuite {

  /** (file under src/main, text) of every main Scala source. */
  private lazy val sources: List[(String, String)] = {
    val src = Paths.get("src/main")
    Using.resource(Files.walk(src))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => src.relativize(p).toString -> Files.readString(p)).toList)
  }

  test("no main source uses parquet-mr's row reader or its Group records") {
    // `pkg.Name`, or `Name` inside a `pkg.{...}` selector; the package
    // strings are split so this file does not match itself
    def ref(pkg: String, name: String) =
      (java.util.regex.Pattern.quote(pkg) +
        raw"\.(\{[^}]*\b$name\b|$name\b)").r
    val banned = Seq(
      ref(Seq("org", "apache", "parquet", "hadoop").mkString("."), "ParquetReader"),
      ref(Seq("org", "apache", "parquet", "example", "data").mkString("."), "Group"))
    val hits = sources.flatMap { case (f, text) =>
      banned.flatMap(_.findFirstIn(text)).map(m => s"$f: $m")
    }
    assert(hits === Nil)
  }

  test("no main source uses parquet-mr's example writer or records") {
    val banned = Seq(Seq("org", "apache", "parquet", "hadoop", "example"),
      Seq("org", "apache", "parquet", "example"))
      .map(pkg => (java.util.regex.Pattern.quote(pkg.mkString(".")) + raw"\b").r)
    val hits = sources.flatMap { case (f, text) =>
      banned.flatMap(_.findFirstIn(text)).map(m => s"$f: $m")
    }
    assert(hits === Nil)
  }

  test("table data is read only through the Graft scan") {
    // the file source's `_metadata` columns were the library face's row
    // identity; the Graft scan serves `_file`, `_pos` and `_row_id`
    val meta = sources.filter(_._2.contains("_metadata")).map(_._1)
    assert(meta === Nil)
    // a `spark.read` may read the bloom build's raw files (a bloom over a
    // superset of the live rows stays sound) and benchmark input; in the
    // store only tombstone files, each with its schema given, so no job
    // infers one. Change files, recorded or synthesized, are table data
    // too: every change reader decodes them through the Graft scan
    val rawFiles = Set("scala/graft/core/BloomIndex.scala", "scala/graft/Tables.scala")
    val targets = Seq("dvRoot(", "deleteFiles")
    val call = raw"\bspark\s*\.read\b".r
    val parquet = raw"\.parquet\(".r
    val comment = raw"(?s)/\*.*?\*/|//[^\n]*".r
    val hits = sources.filterNot(s => rawFiles(s._1)).flatMap { case (f, source) =>
      val text = comment.replaceAllIn(source, "")
      call.findAllMatchIn(text).flatMap { m =>
        val from = text.substring(m.start)
        parquet.findFirstMatchIn(from) match {
          case None => Some(s"$f: ${from.takeWhile(_ != '\n')}")
          case Some(p) =>
            // the `.parquet(...)` argument, up to its closing paren
            var depth = 1
            var end = p.end
            while (depth > 0) {
              from(end) match {
                case '(' => depth += 1
                case ')' => depth -= 1
                case _ => ()
              }
              end += 1
            }
            val chain = from.substring(0, p.start)
            val arg = from.substring(p.end, end - 1)
            if (chain.contains(".schema(") && targets.exists(arg.contains)) None
            else Some(s"$f: $chain.parquet($arg)")
        }
      }
    }
    assert(hits === Nil)
  }

  test("no main source opens a Parquet file without read options") {
    // `ParquetFileReader.open(file)` builds its read options on a fresh
    // Hadoop Configuration, which parses the XML resources on every open
    val call = (Seq("ParquetFileReader", "open").mkString(raw"\.") + raw"\(").r
    /** Top-level arguments of the call whose `(` ends at `from`. */
    def arity(text: String, from: Int): Int = {
      var depth = 1
      var commas = 0
      var i = from
      while (depth > 0 && i < text.length) {
        text(i) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 1 => commas += 1
          case _ => ()
        }
        i += 1
      }
      commas + 1
    }
    val hits = sources.flatMap { case (f, text) =>
      call.findAllMatchIn(text).filter(m => arity(text, m.end) == 1)
        .map(m => s"$f: ${text.substring(m.start, (m.end + 60).min(text.length))}")
    }
    assert(hits === Nil)
  }
}
