package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * PII redaction for web-crawl training corpora: emails, NANP-style
 * phone numbers, and IPv4 addresses are replaced with typed placeholder
 * tokens, and per-type match counts are surfaced so the pipeline can
 * audit redaction volume per source/shard (a redaction stage that can't
 * report what it removed is unauditable at 100 TB).
 *
 * Everything is a built-in `regexp_replace`/`regexp_count` column
 * expression: whole-stage codegen, no UDF, narrow (zero shuffle) — the
 * scan cost IS the operator cost at any scale. Patterns are RE2-safe
 * (no backreferences or lookaround) so the DuckDB oracle twin runs the
 * byte-identical pattern text.
 *
 * Replacement ORDER is part of the contract: email → phone → IPv4.
 * Counts are computed on the PROGRESSIVELY REDACTED text (n_phone on
 * the email-redacted string, n_ip on the phone-redacted one), so every
 * span is attributed to exactly the family that redacts it — a phone
 * or IPv4 embedded inside an email local part (`555-123-4567@ex.com`,
 * `x@10.1.2.3.net`) counts as the email it disappears into, never as a
 * phantom phone/IP that no placeholder accounts for. Audit invariant:
 * n_<type> == occurrences of `<TYPE>` added to clean_text.
 */
object Pii {

  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  val ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** (doc_id, clean_text, n_email, n_phone, n_ip) for every input row —
    * untouched docs pass through with zero counts, so the output is a
    * drop-in replacement for the input corpus. */
  def redact(df: DataFrame, docId: Column, text: Column): DataFrame =
    df.select(docId.as("doc_id"), text.as("_t0"))
      .withColumn("n_email",
        regexp_count(col("_t0"), lit(emailRe)).cast(LongType))
      .withColumn("_t1", regexp_replace(col("_t0"), emailRe, "<EMAIL>"))
      .withColumn("n_phone",
        regexp_count(col("_t1"), lit(phoneRe)).cast(LongType))
      .withColumn("_t2", regexp_replace(col("_t1"), phoneRe, "<PHONE>"))
      .withColumn("n_ip",
        regexp_count(col("_t2"), lit(ipv4Re)).cast(LongType))
      .select(col("doc_id"),
        regexp_replace(col("_t2"), ipv4Re, "<IP>").as("clean_text"),
        col("n_email"), col("n_phone"), col("n_ip"))
}
