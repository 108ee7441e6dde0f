package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII detection and redaction for training-corpus preparation.
  *
  * Web-scale corpora must be scrubbed of personal identifiers before
  * training; the standard first line is pattern-based redaction of the
  * high-recall classes — email addresses, IPv4 addresses, phone numbers —
  * with each hit replaced by a typed placeholder token and per-class hit
  * counts kept as audit columns (downstream filters drop documents whose
  * hit DENSITY is high: contact-scrape pages, log dumps).
  *
  * Everything is a pure `Column` expression over compiled `regexp_replace`
  * / `regexp_count` — scan-speed, shuffle-free, whole-stage codegen; at
  * 100 TB the per-document regex pass is the only cost and it pipelines
  * into whatever scan is already running.
  *
  * The pattern set is deliberately restricted to syntax whose semantics are
  * identical in Java regex (Spark) and RE2 (the DuckDB oracle): character
  * classes, bounded repetition, `\b` ASCII word boundaries — no lookaround,
  * no backreferences. Patterns apply in declaration order; email runs
  * before IPv4 so an address's dotted domain is never half-eaten by the IP
  * pattern, and every replacement token is regex-inert (`<EMAIL>` cannot
  * match any later pattern).
  *
  * Part of the training-data surface the engine adds beyond the reference
  * (the reference pipeline carries no free-text PII; cf. its fixed-schema
  * ingests, `src/transform_istdaten.py`).
  */
object Redaction {

  /** (class name, pattern, replacement token), in application order. */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+[0-9]{1,3}[ -][0-9]{2,3}[ -][0-9]{3}[ -][0-9]{2,4}", "<PHONE>"))

  /** `text` with every PII class replaced by its placeholder token. */
  def redact(text: Column): Column =
    patterns.foldLeft(text) { case (t, (_, re, token)) =>
      regexp_replace(t, lit(re), lit(token))
    }

  /** Per-class hit counts (long), in [[patterns]] order, named `n_<class>`.
    * Counted on the ORIGINAL text, before any replacement, so counts are
    * independent of pattern order.
    */
  def piiCounts(text: Column): Seq[(String, Column)] =
    patterns.map { case (name, re, _) =>
      s"n_$name" -> regexp_count(text, lit(re)).cast("long")
    }

  // ------------------------------------------------------------ SQL twins
  // (DuckDB RE2: regexp_replace needs the 'g' flag for global semantics,
  // which is Spark's default; counting is len(regexp_extract_all).)

  /** DuckDB expression computing [[redact]] of `exprSql`. */
  def redactSql(exprSql: String): String =
    patterns.foldLeft(exprSql) { case (e, (_, re, token)) =>
      s"regexp_replace($e, '$re', '$token', 'g')"
    }

  /** DuckDB expression computing the `n_<class>` count for `className`. */
  def countSql(exprSql: String, className: String): String = {
    val re = patterns.collectFirst { case (`className`, r, _) => r }
      .getOrElse(sys.error(s"unknown PII class $className"))
    s"CAST(len(regexp_extract_all($exprSql, '$re')) AS BIGINT)"
  }
}
