package graft.llm

import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}

/** §2.11 embedding quantization — the storage-side companion to similarity
  * search: symmetric per-vector int8 quantization (q = round(x·127/scale),
  * scale = max|x|), the standard first step before shipping an embedding
  * corpus to an ANN index or a training job. At 100 TB this is a pure
  * map-side transform (4× size reduction, no shuffle at all); the output
  * here also reports per-vector reconstruction MAE so the operator doubles
  * as the quantization-quality report a pipeline would gate on.
  *
  * Determinism: rounding is spelled floor(x+0.5) — identical in every
  * engine, unlike round() whose half-up (Spark) vs half-even (DuckDB) modes
  * diverge on exact ties. The MAE is a sequential per-vector fold in double
  * (same order both engines); the REPORTED scale and mae go through the
  * 6dp canonicalization ([[graft.Dsl.round6]]) while the quantization
  * itself uses the raw scale — round 9 proved unrounded doubles do not
  * survive the driver's hash canonicalization even when bit-identical.
  */
object Quantize {
  val embeddingQuantize: Q = (s, d) => {
    val scale = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    // the raw scale is named scale_raw, NOT reused as the output alias: a
    // select list that defines alias `scale` while its other expressions
    // reference a column `scale` is a lateral-alias ambiguity the two
    // engines resolve OPPOSITELY (Spark bound the mae term to the rounded
    // alias, DuckDB to the raw input — an observed 1-ulp-of-6dp hash flip)
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"), scale.as("scale_raw"))
    val qv = transform(col("embedding"), x =>
      when(col("scale_raw") === 0, lit(0)).otherwise(
        floor(x.cast("double") * lit(127.0) / col("scale_raw") + lit(0.5)).cast("int")))
    base.withColumn("qv", qv)
      .select(col("vec_id"), col("label"), graft.Dsl.round6(col("scale_raw")).as("scale"),
        array_join(transform(col("qv"), q => q.cast("string")), "|").as("qstr"),
        graft.Dsl.round6(aggregate(zip_with(col("embedding"), col("qv"),
            (x, q) => abs(x.cast("double") - q * col("scale_raw") / lit(127.0))),
          lit(0.0), (acc, v) => acc + v) / size(col("embedding"))).as("mae"))
  }

  val embeddingQuantizeSql: String =
    s"""WITH s AS (SELECT vec_id, label, embedding,
       |  list_max(list_transform(embedding, x -> abs(cast(x as double)))) AS scale_raw
       |  FROM embeddings),
       |q AS (SELECT vec_id, label, scale_raw, embedding,
       |  list_transform(embedding, x -> CASE WHEN scale_raw = 0 THEN 0
       |    ELSE cast(floor(cast(x as double) * 127.0 / scale_raw + 0.5) as int) END) AS qv
       |  FROM s)
       |SELECT vec_id, label, ${graft.Dsl.round6Sql("scale_raw")} AS scale,
       |  array_to_string(qv, '|') AS qstr,
       |  ${graft.Dsl.round6Sql(
            """list_reduce(list_transform(range(1, len(embedding) + 1),
              |    i -> abs(cast(embedding[i] as double) - qv[i] * scale_raw / 127.0)), (x, y) -> x + y)
              |    / len(embedding)""".stripMargin)} AS mae
       |FROM q""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): one row per vec_id. */
  val ops: Seq[Op] = Seq(
    Op("llm_embedding_quantize", embeddingQuantize, Sql(embeddingQuantizeSql), Seq("vec_id")),
  )
}
