package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec

/** `pin` keeps the origin size estimate and `loop` drops it; a scope
  * releases every pin except those its result still reads, on return and
  * on a throw.
  */
class PinsSpec extends SparkSpec {

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddsOf(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def sizeOf(df: DataFrame): BigInt = df.queryExecution.optimizedPlan.stats.sizeInBytes

  test("a loop pin plans from the default size estimate, a pin from its origin's") {
    Pins.scoped { pins =>
      val df = spark.range(1000).withColumn("v", col("id") * 2)
      val origin = sizeOf(df)
      assert(origin != BigInt(SQLConf.get.defaultSizeInBytes))
      assert(sizeOf(pins.pin(df)) == origin)
      val looped = pins.loop(df)
      assert(sizeOf(looped) == BigInt(SQLConf.get.defaultSizeInBytes))
      assert(looped.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    }
  }

  test("a loop pin keeps the checkpoint's output partitioning") {
    // with AQE on, a checkpoint records no partitioning to keep
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try Pins.scoped { pins =>
      val looped = pins.loop(spark.range(100).toDF("id").repartition(4, col("id")))
      val parts = looped.queryExecution.logical.collect { case r: LogicalRDD => r.outputPartitioning }
      assert(parts.size == 1 && parts.head.isInstanceOf[HashPartitioning], parts)
    } finally spark.conf.set(key, prev)
  }

  test("a DataFrame returned from scoped is collectable after the scope, and only its pins stay") {
    val before = persisted
    val out = Pins.scoped { pins =>
      val base = pins.pin(spark.range(10).toDF("id"))
      var state = pins.loop(base.withColumn("x", col("id")))
      for (_ <- 1 to 3) state = pins.loop(state.withColumn("x", col("x") + 1))
      state.filter(col("id") < 5)
    }
    assert(persisted -- before == rddsOf(out))
    assert(out.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (0L until 5L).map(i => (i, i + 3)))
  }

  test("a scope that throws unpersists every pin") {
    val before = persisted
    intercept[IllegalStateException] {
      Pins.scoped { pins =>
        val base = pins.pin(spark.range(10).toDF("id"))
        pins.loop(base.withColumn("x", col("id")))
        throw new IllegalStateException("boom")
      }
    }
    assert((persisted -- before).isEmpty)
  }

  test("a nested scope hands the pins its result reads to the enclosing scope") {
    val before = persisted
    val n = Pins.scoped { _ =>
      val inner = Pins.scoped(pins => pins.loop(spark.range(10).toDF("id")))
      assert(persisted -- before == rddsOf(inner))
      inner.count()
    }
    assert(n == 10L)
    assert((persisted -- before).isEmpty)
  }
}
