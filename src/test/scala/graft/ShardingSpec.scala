package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.Sharding

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  test("packByBudget: bin totals respect budget + straddling-doc bound") {
    val df = (1L to 200L).map(i => (i, 10L + i % 7)).toDF("doc_id", "n_tokens")
    val packed = Sharding.packByBudget(df, "n_tokens", budget = 100,
      order = Seq($"doc_id"))
    val totals = packed.groupBy("pack_id").agg(sum("n_tokens").as("t"),
        max("n_tokens").as("mx"))
      .collect().map(r => (r.getAs[Long]("pack_id"),
        r.getAs[Long]("t"), r.getAs[Long]("mx")))
    assert(totals.length > 10)
    totals.foreach { case (p, t, mx) =>
      assert(t <= 100 + mx - 1, s"pack $p total $t exceeds budget+straddle")
    }
    // deterministic under repartitioning
    val again = Sharding.packByBudget(df.repartition(13), "n_tokens", 100,
      Seq($"doc_id"))
    assert(packed.except(again).isEmpty && again.except(packed).isEmpty)
  }

  test("writePacked: one directory per pack, prunable by pack_id") {
    val dir = Files.createTempDirectory("graft_packed").toString
    val df = (1L to 100L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
    Sharding.writePacked(df, dir, "n_tokens", budget = 250, order = Seq($"doc_id"))
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    // 100 docs x 10 tokens / 250 budget = 4 packs, 25 docs each
    assert(back.select("pack_id").distinct().count() === 4)
    val one = back.filter($"pack_id" === 0)
    assert(one.count() === 25)
    // partition pruning: the scan of one pack reads one directory
    val scan = one.queryExecution.executedPlan.toString
    assert(!scan.contains("pack_id=1"), scan)
  }
}
