package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scratch: time sub-plans to localize slowness. */
object Timing {
  def t(name: String)(f: => Any): Unit = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  ($r)")
  }
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftFunctions.register(spark)
    val v = Tables.embeddings(spark, sfDir)
    t("emb count")(v.count())
    t("emb count again")(v.count())
    val fold =
      """aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    t("self-dot fold")(v.select(expr(fold).as("d")).agg(sum("d")).collect()(0))
    t("self-dot fold again")(v.select(expr(fold).as("d")).agg(sum("d")).collect()(0))
    val q = v.filter(col("vec_id") === 0L).select(col("embedding").as("qe"))
    t("broadcast q")(v.crossJoin(broadcast(q)).count())
    val dot = """aggregate(zip_with(embedding, qe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                |          CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin
    t("pair dot")(v.crossJoin(broadcast(q)).select(expr(dot).as("d")).agg(sum("d")).collect()(0))
    t("full s_cosine_topk")(SparkEntry.queries("s_cosine_topk")(spark, sfDir).collect().length)
    t("full s_cosine_topk 2nd")(SparkEntry.queries("s_cosine_topk")(spark, sfDir).collect().length)
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(expr(
        """array_distinct(CASE WHEN size(split(regexp_replace(lower(text), '[\\p{Punct} ]+', ' '), ' ')) >= 5
          |THEN transform(sequence(1, size(split(regexp_replace(lower(text), '[\\p{Punct} ]+', ' '), ' ')) - 4),
          |  i -> concat_ws(' ', slice(split(regexp_replace(lower(text), '[\\p{Punct} ]+', ' '), ' '), i, 5)))
          |ELSE array(text) END)""".stripMargin)).as("g"))
    t("shingle explode count")(sh.count())
    t("shingle hash native")(sh.select(expr("graft_polyhash(g)").as("h")).agg(sum("h")).collect()(0))
    spark.stop()
  }
}
