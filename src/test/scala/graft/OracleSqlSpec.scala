package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one byte literal of the three multimodal oracles
  * (OracleSql.mediaCtes): how a media row's bytes reach DuckDB.
  */
class OracleSqlSpec extends AnyFunSuite {

  private def oracleOf(name: String): String =
    SparkEntry.declared.find(_.name == name).get.oracle.toOption.get()

  private def occurrences(sql: String, lit: String): Int =
    Iterator.iterate(sql.indexOf(lit))(i => sql.indexOf(lit, i + 1)).takeWhile(_ >= 0).size

  test("a media row's bytes render as unsigned two-digit hex") {
    assert(OracleSql.hexLiteral(Array[Byte](0, 127, -128, -1)) == "007f80ff")
  }

  test("each multimodal oracle carries each of its rows' literals exactly once") {
    val synth = SparkEntry.synthOracleMedia
    val (video, other) = synth.partition(_._2 == "video")
    val raw = SparkEntry.rawMediaRows.map(r => (r.media_id, r.kind, r.media))
    Seq(
      ("multimodal_features", synth, Nil),
      ("multimodal_frames", video, other),
      ("multimodal_features_raw", raw, Nil)
    ).foreach { case (name, rows, absent) =>
      val sql = oracleOf(name)
      def count(bytes: Array[Byte]) = occurrences(sql, s"'${OracleSql.hexLiteral(bytes)}'")
      rows.foreach { case (id, _, bytes) => assert(count(bytes) == 1, s"$name: row $id") }
      absent.foreach { case (id, _, bytes) => assert(count(bytes) == 0, s"$name: row $id is not its input") }
      assert(!sql.contains("hx["), s"$name indexes a whole hex string")
    }
  }
}
