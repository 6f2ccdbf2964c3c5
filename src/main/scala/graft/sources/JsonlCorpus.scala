package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/**
 * JSONL (newline-delimited JSON) corpus interchange — the de-facto format
 * training pipelines exchange document shards in. Parquet is this engine's
 * at-rest format; JSONL is the boundary format for handing corpora to
 * tokenizers/trainers and ingesting third-party dumps.
 *
 * Scale shape: serialization is a narrow `to_json` projection (codegen'd,
 * scan-speed); the shard count is the write parallelism, and gzip per shard
 * is the conventional trade (splittability is irrelevant for JSONL handoff
 * because the shard IS the unit of work downstream). Reads go through
 * Spark's native JSONL source with an EXPLICIT schema — schema inference
 * would scan the corpus twice and silently widen types.
 *
 * Losslessness is the whole contract, certified two ways: the
 * `s_jsonl_roundtrip` driver query runs the in-plan serialize→parse
 * identity against the base table (hash-compare), and `JsonlCorpusSpec`
 * round-trips real gzipped files including newline/quote/unicode/null
 * pathologies.
 */
object JsonlCorpus {

  /** Shard codec: gzip, the conventional JSONL handoff trade (see above). */
  private val Compression = "gzip"

  /** Write `df` as `shards` gzipped JSONL files. */
  def writeJsonl(df: DataFrame, dir: String, shards: Int): Unit =
    df.repartition(shards)
      .write.mode("overwrite")
      .option("compression", Compression)
      .json(dir)

  /** Read a JSONL directory with an explicit schema. Rows that fail to
    * parse surface in the `_corrupt_record`-free PERMISSIVE default as
    * nulls; `strict = true` fails the job instead — corrupt third-party
    * dumps should fail loudly, not silently thin out. */
  def readJsonl(spark: SparkSession, dir: String, schema: StructType,
                strict: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      .json(dir)

  /** In-plan serialize→parse identity over the given columns: returns rows
    * that MUST equal the projected input if (and only if) the JSONL
    * encoding is lossless for this schema. */
  def roundTrip(df: DataFrame, cols: Seq[String]): DataFrame = {
    val projected = df.select(cols.map(col): _*)
    val schema = projected.schema
    projected
      .select(to_json(struct(cols.map(col): _*)).as("line"))
      .select(from_json(col("line"), schema).as("rec"))
      .select(cols.map(c => col(s"rec.$c").as(c)): _*)
  }
}
