package graft.model

import org.apache.spark.sql.types._

/**
 * Data contracts of the engine.
 *
 * Two families:
 *  1. The reference pipeline's event/dimension contracts (declared schemas,
 *     never inferred on the hot path — cf. reference spark/app.py:40–50,
 *     95–102, 117–123).
 *  2. The driver test corpus tables (FIXTURES.md §B) used for the
 *     batch-oracleable twins of every operator.
 *
 * Scale note: fixed schemas mean the parquet reader can prune columns and
 * push predicates without a sampling pass — mandatory at 100 TB where a
 * schema-inference scan would itself be a full job.
 */
object Schemas {

  /** Kafka JSON event payload (reference spark/app.py:40–50). All fields
    * nullable: the producer injects nulls deliberately (producer.py:30–36). */
  val eventPayload: StructType = StructType(Seq(
    StructField("event_id",   StringType),
    StructField("user_id",    IntegerType),
    StructField("product_id", IntegerType),
    StructField("amount",     DoubleType),
    StructField("event_time", StringType),   // ISO-8601; parsed in cleanScalars
    StructField("country",    StringType),
    StructField("device",     StringType)))

  /** users dimension (reference spark/app.py:95–102). */
  val userDim: StructType = StructType(Seq(
    StructField("user_id",    IntegerType, nullable = false),
    StructField("segment",    StringType),
    StructField("is_premium", BooleanType),
    StructField("country",    StringType)))

  /** products dimension (reference spark/app.py:117–123). */
  val productDim: StructType = StructType(Seq(
    StructField("product_id", IntegerType, nullable = false),
    StructField("category",   StringType),
    StructField("price_band", StringType)))

  /** Streaming-output contract (reference app.py:163–197; FIXTURES.md §A.3). */
  val windowedAgg: StructType = StructType(Seq(
    StructField("country",        StringType),
    StructField("segment",        StringType),
    StructField("total_amount",   DoubleType),
    StructField("unique_events",  LongType),
    StructField("max_event_time", TimestampType),
    StructField("event_date",     DateType)))
}

/** Typed view of the reference event payload (pre-parse: `event_time` is
  * the raw ISO-8601 STRING, matching [[Schemas.eventPayload]] — parsing to
  * timestamp is the pipeline's job, so a typed producer still exercises
  * the timestamp parse in RefPipeline.cleanScalars). */
case class RefEvent(
    event_id:   String,
    user_id:    Option[Int],
    product_id: Option[Int],
    amount:     Option[Double],
    event_time: String,
    country:    String,
    device:     String)

/** users dim row (reference app.py:87–104 shape; values are ours). */
case class UserDim(user_id: Int, segment: String, is_premium: Boolean, country: String)

/** products dim row (reference app.py:106–125 shape; values are ours). */
case class ProductDim(product_id: Int, category: String, price_band: String)

/** Test-corpus `events` row (FIXTURES.md §B). */
case class Event(
    event_id:   Long,
    ts:         java.sql.Timestamp,
    user_id:    Long,
    event_type: String,
    value:      Double,
    props:      String)
