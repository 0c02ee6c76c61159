package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The stateless transform family (SURVEY §2.3 P1–P18) re-expressed as
  * codegen-friendly Column expressions — no UDFs, every construct stays
  * inside whole-stage codegen and pushes down to the parquet scan.
  *
  * Reference semantics: monkey-flink-katas Chapter00/01/02 and
  * monkey-flink-exchange SharePriceDataflow / Gibber (see per-method
  * citations).
  */
object StatelessOps {

  /** P1 — BUY/SELL decision from a forecast-like numeric
    * (katas/Chapter00_RunMyFirstFlinkAppTest.java:119-125). */
  def buyOrSell(forecast: Column, threshold: Double = 1.0): Column =
    when(forecast > threshold, "BUY").otherwise("SELL")

  /** P2 — keep rows whose text contains ALL of the given needles
    * (katas/Chapter01:140-147, both-hashtag filter). */
  def containsAll(text: Column, needles: Seq[String]): Column =
    needles.map(n => text.contains(n)).reduce(_ && _)

  /** P3 — three-way sentiment by word-boundary regex lexicons
    * (katas/Chapter01:149-154,175-182). Lexicons parameterized so the
    * same operator covers the kata lexicon and corpus-specific ones. */
  def sentiment(text: Column, pos: Seq[String], neg: Seq[String]): Column = {
    val posRe = "\\b(" + pos.mkString("|") + ")\\b"
    val negRe = "\\b(" + neg.mkString("|") + ")\\b"
    when(text.rlike(posRe), "POS")
      .when(text.rlike(negRe), "NEG")
      .otherwise("NEUTRAL")
  }

  /** P5 — emit one row per occurrence of `needle` in `text`
    * (katas/Chapter01:163-170 emits one UP/DOWN per '!'). Implemented
    * as explode(array_repeat) so it stays whole-stage-codegen'd. */
  def occurrences(text: Column, needle: String): Column = {
    val cnt = ((length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), ""))) / needle.length).cast("int")
    explode(array_repeat(lit(1), cnt))
  }

  /** P10 — tokenize (lowercase, strip non-letters, split on whitespace)
    * and explode one row per token
    * (exchange/model/ShareHypePiece.java:65-84). */
  def tokenArray(text: Column): Column =
    split(trim(regexp_replace(regexp_replace(lower(text), "[^a-z \\n]+", ""), "\\s+", " ")), " ")

  def explodeTokens(text: Column): Column = explode(tokenArray(text))

  /** P6/P12 — pull a named field out of a JSON-ish props string by
    * regex (Gibber.java:118-145 parses id_str/text from raw tweet
    * JSON). regexp_extract keeps it oracle-parity-safe vs DuckDB. */
  def jsonIntField(props: Column, field: String): Column =
    regexp_extract(props, "\"" + field + "\": ([0-9]+)", 1).cast("long")

  /** R1/R2 — split/select routing as a single pass computing a route
    * tag (katas/Chapter02:174-217). Downstream consumers filter on the
    * tag; the frame is computed once (no native split in Spark). */
  def route(rules: Seq[(Column, String)], default: String): Column =
    rules.foldLeft(null.asInstanceOf[Column]) {
      case (null, (cond, tag)) => when(cond, tag)
      case (acc, (cond, tag))  => acc.when(cond, tag)
    }.otherwise(default)
}
