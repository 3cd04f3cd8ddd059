package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of selected queries
  * (args = name prefixes; default a representative set) so join
  * strategy / pushdown / codegen spans can be audited per round. The
  * target `app` prints the plans an [[AppSession]] on the project
  * sample serves: its three KPI tables, the summary and a templated
  * `GROUP BY … ORDER BY` on the `taxi` view.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Tables.configure(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q05", "q11", "r01", "r03", "s01", "s02", "d02", "w01")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.exists(name.startsWith)) {
        println(s"\n========== $name ==========")
        fn(spark, sfDir).explain("formatted")
      }
    }
    if (names.contains("app")) {
      val session = new AppSession(spark, sfDir)
      Seq(
        "app.kpiByPayment" -> session.kpiByPayment,
        "app.kpiByHour" -> session.kpiByHour,
        "app.kpiHeatmap" -> session.kpiHeatmap,
        "app.summary" -> session.summary(),
        "app.sql" -> session.sql(
          "SELECT pickup_hour, COUNT(*) AS trips FROM taxi " +
            "WHERE fare_amount > 10 GROUP BY pickup_hour ORDER BY pickup_hour")
      ).foreach { case (name, df) =>
        println(s"\n========== $name ==========")
        df.explain("formatted")
      }
      session.close()
    }
    spark.stop()
  }
}
