package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Message-domain relational operators, re-expressed over the fixture
  * star schema. The reference does all of these as row-at-a-time point
  * lookups against the sled KV store; here they are declarative
  * DataFrame ops so Catalyst broadcasts the small dimension side and
  * keeps the probe side pipelined (no shuffle of the fact table).
  */
object MessageOps {

  /** J1 + P7 — contact enrichment with display-name coalesce
    * (`src/signal/format.rs:58-68`): enrich a fact row with
    * `"{name},{key}"` when the contact exists and has a nonempty name,
    * else the bare key. Dimension side is broadcast — at 100 TB the
    * fact table never shuffles for this join.
    */
  def enrichContact(
      facts: DataFrame,
      contacts: DataFrame,
      factKey: String,
      contactKey: String,
      nameCol: String): DataFrame = {
    val dim = contacts.select(col(contactKey).as("__ck"), col(nameCol).as("__name"))
    facts
      .join(broadcast(dim), facts(factKey) === col("__ck"), "left")
      .withColumn(
        "contact_display",
        when(col("__name").isNotNull && length(col("__name")) > 0,
          concat(col("__name"), lit(","), col(factKey).cast("string")))
          .otherwise(col(factKey).cast("string")))
      .drop("__ck", "__name")
  }

  /** J2 + P8 — group enrichment with `<missing group>` fallback
    * (`src/signal/format.rs:70-79`). */
  def enrichGroup(
      facts: DataFrame,
      groups: DataFrame,
      factKey: String,
      groupKey: String,
      titleCol: String): DataFrame = {
    val dim = groups.select(col(groupKey).as("__gk"), col(titleCol).as("__title"))
    facts
      .join(broadcast(dim), facts(factKey) === col("__gk"), "left")
      .withColumn("group_display", coalesce(col("__title"), lit("<missing group>")))
      .drop("__gk", "__title")
  }

  /** P1 — FindContact conjunctive filter (`src/lib.rs:310-317`):
    * optional exact key, optional exact phone, optional name-contains;
    * absent predicates are vacuously true. */
  def findContact(
      contacts: DataFrame,
      keyCol: String, key: Option[Long],
      exactCol: String, exact: Option[String],
      nameCol: String, nameContains: Option[String]): DataFrame = {
    val preds: Seq[Column] = Seq(
      key.map(k => col(keyCol) === k),
      exact.map(e => col(exactCol) === e),
      nameContains.map(n => col(nameCol).contains(n))).flatten
    preds.foldLeft(contacts)((df, p) => df.filter(p))
  }

  /** P5/P6 — message normalization as a chained-when CASE: maps an
    * event-kind discriminator to the reference's body-formatting arms
    * (`src/signal/format.rs:12-56`, `format_message.rs:59-177`):
    * quote → `Answer to message "{q}": {b}`; reaction → `Reacted with
    * {e} to message: "{b}"`; plain body; else `Empty data message`.
    * `direction` mirrors the sent/received split
    * (`format_message.rs:18-30`).
    */
  def normalize(
      df: DataFrame,
      kindCol: Column,
      bodyCol: Column,
      quoteCol: Column,
      emojiCol: Column): DataFrame =
    df.withColumn(
        "direction",
        when(kindCol.isin("purchase", "signup"), lit("to")).otherwise(lit("from")))
      .withColumn(
        "body",
        when(kindCol === "view" && quoteCol.isNotNull,
          concat(lit("Answer to message \""), quoteCol, lit("\": "), bodyCol))
          .when(kindCol === "click" && emojiCol.isNotNull,
            concat(lit("Reacted with "), emojiCol, lit(" to message: \""), bodyCol, lit("\"")))
          .when(bodyCol.isNotNull, bodyCol)
          .otherwise(lit("Empty data message")))

  /** P2 — RetrieveProfile projection with the reference's 32-byte key
    * validation (`src/lib.rs:208-220`: a profile key shorter than 32
    * bytes is rejected). Keys failing validation surface as NULL with
    * `key_valid = false` rather than erroring the whole scan — the
    * row-at-a-time reference aborts one lookup; a columnar scan must
    * keep going. */
  def retrieveProfile(df: DataFrame, idCol: Column, keyCol: Column): DataFrame =
    df.select(
      idCol.as("profile_id"),
      when(length(keyCol) === 32, keyCol).as("profile_key"),
      (length(keyCol) === 32).as("key_valid"))

  // --- P4: malformed-row drop -----------------------------------------

  /** P4 — the reference's malformed-row drop made a NAMED operator
    * (`src/lib.rs:212,263,314,359` — every store read runs
    * `filter_map(Result::ok)`, silently discarding rows that fail to
    * decode). Kept rows are those where every required column is
    * non-null; a pure conjunctive filter, so Catalyst pushes it into
    * the scan. The reference prints errors and moves on — here the
    * errors side-channel is first-class: [[malformedRows]] returns the
    * rejects with the first failing column as `__reason`, and
    * [[dropMalformedObserved]] counts drops IN THE SAME JOB via
    * `Dataset.observe` (no second scan — at 100 TB a "count the drops"
    * rescan is a full extra pass). */
  def dropMalformed(df: DataFrame, requiredCols: Seq[String]): DataFrame =
    df.filter(requiredCols.map(col(_).isNotNull).reduce(_ && _))

  /** The rejects of [[dropMalformed]] with `__reason` = the FIRST
    * required column that is null (reference: the decode error it
    * printed). */
  def malformedRows(df: DataFrame, requiredCols: Seq[String]): DataFrame =
    df.filter(requiredCols.map(col(_).isNull).reduce(_ || _))
      .withColumn("__reason",
        coalesce(requiredCols.map(c => when(col(c).isNull, lit(c))): _*))

  /** Kept rows + an [[org.apache.spark.sql.Observation]] whose metrics
    * (`n_seen`, `n_dropped`) materialize from the SAME job that
    * produced the kept rows — read them after the first action. */
  def dropMalformedObserved(df: DataFrame, requiredCols: Seq[String])
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("drop_malformed")
    val ok = requiredCols.map(col(_).isNotNull).reduce(_ && _)
    val kept = df
      .withColumn("__ok", ok)
      .observe(obs, count(lit(1)).as("n_seen"),
        sum(when(!col("__ok"), 1L).otherwise(0L)).as("n_dropped"))
      .filter(col("__ok"))
      .drop("__ok")
    (kept, obs)
  }
}
