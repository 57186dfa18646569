package graft.plans

import org.apache.spark.sql.SparkSession

import graft.SparkSuite

/** The `spark.sql.extensions` wiring: a session built with
  * [[GraftExtensions]] calls every custom expression from plain SQL. The
  * session shares the suite's context (`create()` always returns a new
  * session), so its function registry is the extension's alone. */
class GraftExtensionsSpec extends SparkSuite {
  private lazy val ext = {
    spark // the suite's context must exist first: create() reuses it
    SparkSession.builder().withExtensions(new GraftExtensions).create()
  }

  test("upper_camel and dot_product are SQL-callable through the extension") {
    val row = ext.sql(
      """SELECT upper_camel('my-event_name x') AS code,
        |       dot_product(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS dot""".stripMargin)
      .head()
    assert(row.getString(0) == "MyEventNameX")
    assert(row.getDouble(1) == 32.0)
  }

  test("the shingle, minhash and simhash expressions are SQL-callable too") {
    val row = ext.sql(
      """SELECT shingle_arr(array('a', 'b', 'c', 'd'), 3) AS sh,
        |       minhash_sigs(array('a b c', 'b c d')) AS sig,
        |       simhash_md5(array('a', 'b')) AS h32,
        |       simhash_md5_64(array('a', 'b')) AS h64,
        |       simhash64(array('a', 'b')) AS hx""".stripMargin)
      .head()
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(row.getSeq[Long](1).length == 8)
    assert(!row.isNullAt(2) && !row.isNullAt(3) && !row.isNullAt(4))
  }

  test("a session built without the extension does not resolve them") {
    assert(ext ne spark)
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT upper_camel('x')").collect())
  }
}
