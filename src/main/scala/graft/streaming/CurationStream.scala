package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming curation — the continuous-ingest form of the batch
  * `curation_pipeline`: documents arriving on a file stream are
  * content-deduped within a watermark and quality-gated, in one
  * continuous query. The same narrow-projection rule as the batch
  * pipeline applies: the content hash and every gate stat are computed
  * BEFORE the stateful dedup, so raw text never enters the dedup state
  * store (at ingest scale the state holds ~50 bytes/doc, not the
  * corpus).
  *
  * Gate stats are chosen to be COPY-INVARIANT (identical for every
  * duplicate of the same normalized content): token count ignores
  * whitespace/case, and the length gate uses the normalized length.
  * Whichever duplicate a micro-batch happens to keep, the curated
  * output is the same — that invariance is what makes the stream
  * equivalent to the batch pass (asserted by StreamingSpec).
  *
  * `lang` is part of the DEDUP KEY, not just a carried column: it is
  * metadata, not derivable from the text, so two copies of the same
  * content could disagree on it — keyed on content alone, the survivor's
  * lang would depend on arrival order and batch equivalence would break.
  * Keying on (content, lang) makes every surviving column a function of
  * the key (dedup-within-language, the usual corpus-curation grain).
  */
object CurationStream {

  /** Deterministic arrival time: one doc per second from a fixed epoch
    * (a real ingest would carry its own event time). Duplicates in the
    * testdata arrive well inside the watermark → exact dedup. */
  private val baseUs = 1700000000L * 1000000L

  /** Curated stream: (doc_id, h, lang, n_tok, stop_ratio) of the surviving
    * copy of each distinct normalized content that passes the gate. */
  def curatedDocs(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
    val nStop = size(regexp_extract_all(lower(col("text")),
      lit("\\b(the|a|and|of|to|in|is|on|for|with)\\b"), lit(0)))
    graft.engine.Engine.stream(spark, dir, "documents")
      .withColumn("arrival", timestamp_micros(lit(baseUs) + col("doc_id") * 1000000L))
      // narrow projection BEFORE the stateful operator
      .select(col("doc_id"), col("lang"), col("arrival"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("h"),
        length(regexp_replace(trim(lower(col("text"))), "\\s+", " "))
          .as("n_chars_norm"),
        nTok.cast("long").as("n_tok"),
        (nStop.cast("double") / greatest(nTok, lit(1)).cast("double"))
          .as("stop_ratio"))
      .withWatermark("arrival", "2 hours")
      .dropDuplicatesWithinWatermark("h", "lang")
      .filter(col("n_chars_norm").between(50, 5000) && col("n_tok") >= 10)
      .select(col("doc_id"), col("h"), col("lang"), col("n_tok"), col("stop_ratio"))
  }
}
