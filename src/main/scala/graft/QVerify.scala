package graft

/** Dev tool: dump ONE declared query's result to parquet with the same
  * session conf as [[Verify]] — `runMain graft.QVerify q76_ann_int8
  * [sfDir] [outDir]` — so a new oracle can be iterated against
  * tools/check.py without paying the full ~93-query Verify sweep. */
object QVerify {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(2).getOrElse("/tmp/graft_qverify")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    SparkEntry.queries(name)(spark, dir).coalesce(1).write
      .mode("overwrite").parquet(s"$out/$name")
    // a one-entry oracle_sql.json so tools/check.py runs on this dir
    // directly (same escaping discipline as Verify)
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.get(name)
      .map(sql => s"{${q(name)}: ${q(sql)}}").getOrElse("{}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
    println(s"[qverify] wrote $out/$name")
    spark.stop()
  }
}
