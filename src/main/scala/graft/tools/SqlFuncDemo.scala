package graft.tools


/** Smoke: native expressions through the spark.sql surface, both the
  * runtime registration path and the spark.sql.extensions path.
  */
object SqlFuncDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(2)
    spark.sparkContext.setLogLevel("WARN")
    // extensions path: functions available with no explicit registration
    val r = spark.sql(
      """SELECT dot_product_f(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                              array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dp,
                simhash64(array('spark','engine')) AS sh,
                word_shingles('a b c d', 3) AS shingles""").collect().head
    println(s"SQLDEMO dp=${r.getDouble(0)} sh=${r.getLong(1)} shingles=${r.getSeq[String](2).mkString("|")}")
    spark.stop()
  }
}
