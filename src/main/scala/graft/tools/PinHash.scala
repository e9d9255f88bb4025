package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The FlagshipHashSpec digest, as a reusable tool: prints the sf0.001
  * result hash of each named registry query so a semantics change can
  * be re-pinned AFTER tools/check.py shows it oracle-green. Run:
  *   sbt "runMain graft.tools.PinHash q1_agg j1_star_join ..."
  */
object PinHash {

  /** Mirrors the driver's compare: project columns in name order, cast
    * everything through Spark's canonical string form, sort rows, md5
    * the row stream. Any row-count, schema, or value drift changes the
    * digest. Shared with FlagshipHashSpec so the spec and the
    * re-pinning tool can never disagree. */
  // the historical separators of the pinned digests (u0000 / u0001),
  // spelled as char codes so no raw control byte lives in the source
  private val NullTok = 0.toChar.toString
  private val Sep = 1.toChar.toString

  def resultHash(df: DataFrame): String = {
    val cols = df.columns.sorted
    val rows = df.select(cols.map(c => col(c).cast("string")): _*)
      .collect()
      .map(_.toSeq.map(v => if (v == null) NullTok else v.toString)
        .mkString(Sep))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PinHash <queryName> [more...]")
    val spark = graft.Session.local(8)
    args.foreach { name =>
      val df = graft.Queries.all(name).fn(spark, "/root/testdata/sf0.001")
      println(s"""    "$name" -> "${resultHash(df)}",""")
    }
    spark.stop()
  }
}
