package graft.etl

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/**
 * Property-based contract tests (SURVEY §5.2-3): generators mirror the
 * reference producer's dirt (null country/device/amount, duplicate ids —
 * producer.py:30–42 — plus an unparseable `event_time`); properties are
 * the §1.4 invariants. Sampling is seeded, so failures reproduce. (Raw
 * scalacheck Gen — the scalatestplus bridge isn't on the offline
 * classpath.)
 */
class CleanPropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(42L + i)))

  private val ValidTime = "2024-01-01T00:00:00Z"

  private val genEvent: Gen[(String, Int, Option[Double], String, String, String)] = for {
    id      <- Gen.chooseNum(0, 30).map(n => s"evt_$n")   // small space ⇒ dups likely
    user    <- Gen.chooseNum(1, 5)
    amount  <- Gen.option(Gen.chooseNum(1.0, 200.0))
    country <- Gen.oneOf("IN", "US", "DE", "in", "us", null)
    device  <- Gen.oneOf("MOBILE", "mobile ", "DESKTOP", " TABLET ", "", null)
    time    <- Gen.frequency(9 -> Gen.const(ValidTime), 1 -> Gen.const("garbage"))
  } yield (id, user, amount, country, device, time)

  private val genBatch = Gen.listOfN(40, genEvent)

  test("clean upholds the §1.4 contract on 10 arbitrary dirty batches") {
    val batches = samples(genBatch, 10)
    assert(batches.flatten.exists(_._6 == "garbage"), "no unparseable time sampled")
    batches.foreach { rows =>
      val df = rows.toDF("event_id", "user_id", "amount", "country", "device", "event_time")
        .withColumn("product_id", lit(1))
      val cleaned = RefPipeline.clean(df).cache()
      // an unparseable event_time becomes null instead of aborting the job;
      // a valid one parses, and only ids that had a garbage time can be null
      val garbageIds = rows.filter(_._6 == "garbage").map(_._1).toSet
      val times = cleaned.select("event_id", "event_time").as[(String, java.sql.Timestamp)].collect()
      assert(times.forall { case (id, t) =>
        if (t == null) garbageIds(id) else t.toInstant == java.time.Instant.parse(ValidTime)
      }, times.mkString(","))
      // no nulls in the contract columns
      assert(cleaned.filter(
        col("amount").isNull || col("country").isNull || col("device_norm").isNull).isEmpty)
      // event_id unique
      assert(cleaned.select("event_id").distinct().count() == cleaned.count())
      // device_norm trimmed lowercase; country uppercased
      val devs = cleaned.select("device_norm").as[String].collect()
      assert(devs.forall(d => d == d.trim.toLowerCase))
      val cs = cleaned.select("country").as[String].collect()
      assert(cs.forall(c => c == c.toUpperCase))
      cleaned.unpersist()
    }
  }

  test("normalize_device UDF ≡ builtin on arbitrary strings") {
    val genStr = Gen.oneOf(
      Gen.const(null: String), Gen.const(""), Gen.alphaNumStr,
      Gen.alphaNumStr.map(s => s" $s "), Gen.alphaNumStr.map(_.toUpperCase))
    samples(Gen.listOfN(30, genStr), 10).foreach { strs =>
      val df = strs.toDF("device")
      val diff = df.select(
        RefPipeline.normalizeDeviceUdf(col("device")).as("u"),
        RefPipeline.normalizeDevice(col("device")).as("b"))
        .filter(col("u") =!= col("b"))
      assert(diff.isEmpty)
    }
  }

  test("Exact.cents is an exact order-independent encoding of 2-decimal money") {
    import graft.functions.Exact
    samples(Gen.listOfN(50, Gen.chooseNum(0L, 100000L)), 10).foreach { centsList =>
      val df = centsList.map(_ / 100.0).toDF("amount")
      val viaCents = df.agg(sum(Exact.cents(col("amount")))).head().getLong(0)
      assert(viaCents == centsList.sum, "cents encoding must be exact")
    }
  }
}
