package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** PII detection and redaction — the privacy gate every production
  * training-data pipeline runs between crawl and publish (emails, phone
  * numbers, IP addresses scrubbed before a corpus ships; reference scope:
  * the curation pipeline examples under /root/reference/examples/
  * data-pipeline, which filter/enrich records in flight — this is the
  * same map-shaped gate with a privacy policy).
  *
  * Shape at 100 TB: both operators are ONE map-only pass — the regex
  * scan/replace runs as codegen'd builtins (`regexp_extract_all` /
  * `regexp_replace`) straight over the text bytes, patterns compile once
  * per task, there is no shuffle anywhere except the gate's final
  * ORDER BY (driver-protocol only; a production run writes the redacted
  * corpus partition-parallel with zero exchanges). Embarrassingly
  * parallel at any corpus size.
  *
  * The synthetic corpus carries no PII, so both engines first inject the
  * SAME deterministic PII spans (doc_id-derived emails/phones/IPs — the
  * q_text_normalize denormalization discipline): the oracle states the
  * identical synthesis, so the regex ENGINES (java.util.regex vs RE2) are
  * hash-checked against each other per document. Patterns stay inside the
  * dialect intersection: char classes, bounded repetition, `\b` — no
  * lookaround, no backreferences.
  *
  * Relation to CurationOps' q_pii_redact: that query runs the scrub over
  * the RAW corpus, where (as its own comment records) the email/IP
  * categories are structural zeros — the replace path is verified only on
  * the entity denylist. These operators close that vacuity: every span
  * category matches (and multi-match documents exist), so the extraction
  * counts, span content, and replacement BYTES are all exercised
  * non-trivially on both engines.
  */
object PrivacyOps {

  /** Pattern literals shared by scan and redact (one policy definition).
    * RE2 ∩ java.util.regex subset only. Email matches BOTH cases (the
    * q_pii_redact policy) — a lowercase-only class would silently
    * under-redact mixed-case addresses even though the synthetic
    * injection below happens to be lowercase. */
  private[graft] val EmailRe =
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """\b555-[0-9]{4}\b"""
  private val IpRe =
    """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""

  /** doc_id-derived PII injection — every doc gets one email and one
    * phone; every 3rd an IPv4; every 5th a second email (so per-type
    * counts vary and the multi-match path is exercised). */
  private def rawCol: org.apache.spark.sql.Column =
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
          lit(".0."), expr("(doc_id div 7) % 250").cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, lit(" cc admin@corp.example.org"))
        .otherwise(lit("")))

  // single line ON PURPOSE: this fragment interpolates into oracle
  // strings that run .stripMargin afterwards — a line-leading '||'
  // would lose a pipe to the margin strip
  private val rawSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) " +
      "|| '@mail.example.com or call 555-' " +
      "|| lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') " +
      "|| CASE WHEN doc_id % 3 = 0 THEN ' from 10.' " +
      "|| CAST(doc_id % 200 AS VARCHAR) || '.0.' " +
      "|| CAST((doc_id // 7) % 250 AS VARCHAR) ELSE '' END " +
      "|| CASE WHEN doc_id % 5 = 0 " +
      "THEN ' cc admin@corp.example.org' ELSE '' END"

  private[graft] def redactedCol: org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(col("raw"), EmailRe, "[EMAIL]"),
        IpRe, "[IP]"),
      PhoneRe, "[PHONE]")

  val all: Seq[Q] = Seq(

    // ---- PII scan: per-document match counts per category plus the
    // first email span (the audit row a privacy review reads; feeds the
    // redact step below and the curation scorecard's drop-explanation
    // discipline).
    Q("q_pii_scan",
      s"""WITH r AS (SELECT doc_id, $rawSql AS raw FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(raw, '$EmailRe')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_ip,
         |  CAST(len(regexp_extract_all(raw, '$EmailRe'))
         |     + len(regexp_extract_all(raw, '$PhoneRe'))
         |     + len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_pii,
         |  regexp_extract(raw, '$EmailRe') AS first_email
         |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ne = size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0)))
      val np = size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0)))
      val ni = size(regexp_extract_all(col("raw"), lit(IpRe), lit(0)))
      Tables.documents(s, d)
        .select(col("doc_id"), rawCol.as("raw"))
        .select(col("doc_id"),
          ne.cast("long").as("n_email"), np.cast("long").as("n_phone"),
          ni.cast("long").as("n_ip"), (ne + np + ni).cast("long").as("n_pii"),
          regexp_extract(col("raw"), EmailRe, 0).as("first_email"))
        .orderBy(col("doc_id"))
    },

    // ---- PII redaction: the publish-side scrub. Replacement order is
    // email → IP → phone (a fixed policy stated identically in the
    // oracle; the three patterns are mutually non-overlapping on any
    // input by construction — no '@' in an IP/phone, no dots in a
    // phone). The redacted text is emitted as an md5 so the gate
    // hash-checks every byte of both engines' replace semantics.
    Q("q_pii_scrub",
      s"""WITH r AS (SELECT doc_id, $rawSql AS raw FROM documents),
         |red AS (SELECT doc_id, raw,
         |    regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$EmailRe', '[EMAIL]', 'g'),
         |      '$IpRe', '[IP]', 'g'),
         |      '$PhoneRe', '[PHONE]', 'g') AS red
         |  FROM r)
         |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
         |  CAST(length(red) AS BIGINT) AS n_red,
         |  CAST(len(regexp_extract_all(raw, '$EmailRe'))
         |     + len(regexp_extract_all(raw, '$PhoneRe'))
         |     + len(regexp_extract_all(raw, '$IpRe')) AS BIGINT) AS n_redacted,
         |  md5(red) AS red_md5
         |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ne = size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0)))
      val np = size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0)))
      val ni = size(regexp_extract_all(col("raw"), lit(IpRe), lit(0)))
      Tables.documents(s, d)
        .select(col("doc_id"), rawCol.as("raw"))
        .withColumn("red", redactedCol)
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("n_raw"),
          length(col("red")).cast("long").as("n_red"),
          (ne + np + ni).cast("long").as("n_redacted"),
          md5(col("red").cast("binary")).as("red_md5"))
        .orderBy(col("doc_id"))
    },

    // ---- PII redaction AT INGEST — the streaming twin: the scrub is a
    // stateless per-row map, so each trigger redacts its own batch and
    // appends through the idempotent per-batch write; the drain is the
    // accumulated redacted relation. Shares the batch oracle verbatim —
    // a dropped/replayed batch loses/keeps rows and hash-mismatches.
    Q("q_stream_pii_scrub",
      s"""WITH r AS (SELECT doc_id, $rawSql AS raw FROM documents),
         |red AS (SELECT doc_id, raw,
         |    regexp_replace(regexp_replace(regexp_replace(raw,
         |      '$EmailRe', '[EMAIL]', 'g'),
         |      '$IpRe', '[IP]', 'g'),
         |      '$PhoneRe', '[PHONE]', 'g') AS red
         |  FROM r)
         |SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
         |  CAST(length(red) AS BIGINT) AS n_red,
         |  md5(red) AS red_md5
         |FROM red ORDER BY doc_id""".stripMargin) { (s, d) =>
      Staging.ledger(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id", 3) { (batch, id, out) =>
        Staging.writeBatch(
          batch.select(col("doc_id"), rawCol.as("raw"))
            .withColumn("red", redactedCol)
            .select(col("doc_id"),
              length(col("raw")).cast("long").as("n_raw"),
              length(col("red")).cast("long").as("n_red"),
              md5(col("red").cast("binary")).as("red_md5")),
          s"$out/red", id)
      }(out => Staging.drainParquet(s, s"$out/red", col("doc_id")))
    })
}
