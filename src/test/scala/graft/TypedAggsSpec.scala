package graft

import org.apache.spark.sql.functions._

import graft.functions.TypedAggs
import graft.operators.ModeAgg

class TypedAggsSpec extends SparkSpec {
  import spark.implicits._

  test("ModeAggregator matches the argmax-struct mode, including ties") {
    val rnd = new scala.util.Random(23)
    // small value alphabet → plenty of count ties to exercise the break
    val df = (1 to 5000)
      .map(_ => (s"g${rnd.nextInt(20)}", s"v${rnd.nextInt(4)}"))
      .toDF("g", "v")
    val viaStruct = ModeAgg.mode(df, Seq("g"), "v", "m")
      .as[(String, String)].collect().toMap
    val viaAggregator = df.groupBy("g").agg(udaf(TypedAggs.ModeAggregator).apply(col("v")).as("m"))
      .as[(String, String)].collect().toMap
    viaAggregator shouldBe viaStruct
  }

  test("ModeAggregator skips nulls and returns null for all-null groups") {
    val df = Seq(("a", "x"), ("a", null), ("a", "x"), ("b", null))
      .toDF("g", "v")
    val got = df.groupBy("g").agg(udaf(TypedAggs.ModeAggregator).apply(col("v")).as("m"))
      .as[(String, Option[String])].collect().toMap
    got shouldBe Map("a" -> Some("x"), "b" -> None)
  }

  test("heavy hitters guarantee: every item above n/k survives with bounded undercount") {
    val k = 10
    // skewed stream: "hot0".."hot2" dominate, 500 distinct cold items
    val rnd = new scala.util.Random(31)
    val values = (1 to 20000).map { _ =>
      val r = rnd.nextInt(100)
      if (r < 30) "hot0" else if (r < 50) "hot1" else if (r < 62) "hot2"
      else s"cold${rnd.nextInt(500)}"
    }
    val df = values.map(v => ("g", v)).toDF("g", "v").repartition(8)
    val got = df.groupBy("g")
      .agg(udaf(new TypedAggs.HeavyHittersAggregator(k)).apply(col("v")).as("hh"))
      .as[(String, Seq[(String, Long)])].collect().head._2.toMap

    val exact = values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = values.size.toLong
    // completeness: true frequency > n/k ⇒ present
    exact.filter(_._2 > n / k).keySet.foreach { hot =>
      withClue(s"$hot missing from $got: ") { got.contains(hot) shouldBe true }
    }
    // soundness: estimates are lower bounds with undercount ≤ n/k
    got.foreach { case (item, est) =>
      est should be <= exact(item)
      (exact(item) - est) should be <= n / k
    }
  }

  test("typed aggregates are SQL-registrable") {
    TypedAggs.register(spark)
    Seq(("a", "x"), ("a", "y"), ("a", "y")).toDF("g", "v").createOrReplaceTempView("tv")
    spark.sql("SELECT mode_agg(v) FROM tv GROUP BY g")
      .as[String].collect() shouldBe Array("y")
  }
}
