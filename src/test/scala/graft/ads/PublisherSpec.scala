package graft.ads

import graft.SparkSpec

class PublisherSpec extends SparkSpec {
  import spark.implicits._

  test("publisher topSeries returns descending top-n (dashboard rollup)") {
    val stats = Seq(("p1", 5.0), ("p2", 50.0), ("p1", 10.0), ("p3", 1.0))
      .toDF("province", "order_amount")
    val top = Publisher.topSeries(stats, "province", "order_amount", 2).collect()
    assert(top.map(_.getString(0)).toSeq === Seq("p2", "p1"))
    assert(top.head.getDouble(1) === 50.0)
  }
}
