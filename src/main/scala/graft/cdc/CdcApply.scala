package graft.cdc

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.Bridge
import graft.tables.TableStore

/** Batch CDC application onto a managed table.
  *
  * Replaces the reference's one-Spark-job-per-record loop
  * (SparkDestinationStream.java:71-85 — its #1 performance anti-pattern,
  * SURVEY.md §6) with a fixed handful of jobs per batch, whatever its size:
  *
  *   1. decode all payloads at once (`from_json`, FAILFAST — reference S3,
  *      SparkDestinationStream.java:221-227);
  *   2. reduce to the NET effect per key (last write wins, window over the
  *      record sequence), computed ONCE and persisted: the window's shuffle
  *      is one job, and one more job materializes the batch while it
  *      validates it and counts the net ops;
  *   3. one atomic `TableStore.applyNet` commit from the persisted batch —
  *      the atomic replacement for the reference's non-atomic
  *      delete-then-insert update (SparkDestinationStream.java:110-114;
  *      README.md:74-77). Merge-on-read: the delete sidecar and the upsert
  *      write, one job each. Copy-on-write: the key bounds, the
  *      affected-file semi join (broadcast + scan), the survivors' rewrite
  *      (broadcast + write) and the upsert write, six jobs.
  *
  * So a batch is 4 Spark jobs on a merge-on-read table and 8 on a
  * copy-on-write one (`CdcJobsSpec`); the written files' stats come from
  * the write jobs themselves.
  *
  * No SQL strings are built anywhere: key predicates are Column equality
  * joins, injection-safe by construction (vs the reference's jOOQ-inlined
  * literals, SparkDestinationStream.java:124-135, tested at
  * SparkDestinationStreamIT.java:309-325).
  */
object CdcApply {

  final case class Stats(upserts: Long, deletes: Long)

  /** Validated ingest config — the analogue of the reference's
    * `DestinationConfig` required-key checks (DestinationConfig.java:45-118).
    * `strictValidation` = reference per-record semantics (ANY invalid record
    * fails the batch); false validates only per-key net winners — faster on
    * large replays, and an invalid record (malformed payload JSON included)
    * that loses last-write-wins cannot fail the batch. Record KEYS must
    * always parse in either mode: a record whose key is unreadable cannot
    * even be placed in the per-key ordering.
    *
    * `orderCol` (opt-in): resolve per-key net winners by this SOURCE-TIME
    * column instead of arrival order. The reference ignores the envelope's
    * own timestamps (`opencdc.createdAt`/`readAt`, opencdc.proto:12-25) and
    * applies in stream order — correct only when the transport preserves
    * per-key order. A replayed or multi-path stream delivers records out of
    * order; with `orderCol` the winner is the record with the HIGHEST order
    * value (source timestamp, LSN, ...), ties broken by arrival `__seq`, so
    * the applied net state is independent of delivery order and
    * partitioning WITHIN ONE APPLY BATCH. The scope matters: the table
    * stores no order value, so ACROSS batches later batches still win — a
    * stale record arriving alone in a later micro-batch overwrites fresher
    * state. For multi-batch safety either route each key's records into
    * one batch (keyed partitioning, as st_cdc_apply stages; a Kafka
    * key-partitioned source gives this per partition) or carry the order
    * value as a TABLE column and pre-filter each batch with
    * [[CdcApply.guardStale]]. On the DataFrame path the column must be
    * present in the envelope frame; on the record path it is read from
    * `CdcRecord.metadata` (ns-epoch string, the `opencdc.createdAt`
    * shape) — records lacking it lose to any record that has it. */
  final case class CdcConfig(table: String, keyCols: Seq[String],
      strictValidation: Boolean = true, orderCol: Option[String] = None,
      autoEvolve: Boolean = false) {
    require(table != null && table.nonEmpty, "config: table is required")
    require(keyCols != null && keyCols.nonEmpty, "config: keyCols is required")
    require(orderCol.forall(_.nonEmpty), "config: orderCol must be non-empty")
  }

  def apply(spark: SparkSession, store: TableStore, config: CdcConfig,
      records: Seq[CdcRecord]): Stats = {
    require(store.exists(config.table),
      s"table ${config.table} does not exist — schema is catalog-owned, " +
        "create it first (mirrors reference: connector never creates tables)")
    if (records.isEmpty) return Stats(0, 0)
    val schema = store.schema(config.table)
    val keySchema = StructType(config.keyCols.map(c =>
      schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"key column $c not in table schema"))))

    // Driver-side decode of the envelope: key map (F1/F2 semantics incl.
    // empty-key guard F6, SparkDestinationStream.java:119-122). Raw payloads
    // carry their JSON (parsed distributed); STRUCTURED payloads convert to
    // typed Rows directly (F4 without the lossy JSON round-trip — exact
    // sub-ms timestamps and full-precision doubles). Envelope data is tiny;
    // row payloads stay distributed.
    val rows = records.zipWithIndex.map { case (r, seq) =>
      val isDelete = r.op == CdcOp.Delete
      val keyData = r.key.getOrElse(
        throw new IllegalArgumentException("record has no key"))
      val keyMap = CdcDecode.keyFields(keyData)
      if (keyMap.isEmpty)
        throw new IllegalArgumentException("key has no fields")
      // a non-delete with a MISSING payload is not rejected here: the
      // distributed validation handles it under the configured scope
      // (strict = any record, net-only = net winners)
      val after = if (isDelete) None else r.after
      val (payload, srow) = after match {
        case None => (null, null)
        // under autoEvolve structured payloads route through JSON so
        // their unknown fields survive to schema inference (the typed
        // fast path would silently drop them at structToRow)
        case Some(sd: StructuredData) if !config.autoEvolve =>
          (null, CdcDecode.structToRow(sd.fields, schema))
        case Some(raw) => (CdcDecode.payloadJson(raw), null)
      }
      val keyJson = CdcDecode.payloadJson(StructuredData(keyMap))
      val base = Seq[Any](seq.toLong, r.op.toString.toLowerCase, keyJson, payload, srow)
      // source-time ordering value from record metadata (ns-epoch string,
      // e.g. opencdc.createdAt); unparseable/absent → null (loses ordering)
      config.orderCol match {
        case None => Row(base: _*)
        case Some(oc) =>
          val ord: Any = r.metadata.get(oc).flatMap(_.toLongOption) match {
            case Some(v) => java.lang.Long.valueOf(v)
            case None => null
          }
          Row((base :+ ord): _*)
      }
    }
    val envSchema = config.orderCol match {
      case None => envelopeSchemaFor(schema)
      case Some(oc) => StructType(
        envelopeSchemaFor(schema).fields :+ StructField(oc, LongType))
    }
    val env = spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava), envSchema)
    applyEnvelopes(spark, store, config, env)
  }

  /** Envelope schema for the DataFrame path: a sequence number (intra-batch
    * order for last-write-wins), the operation, and key/payload JSON. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("__seq", LongType), StructField("__op", StringType),
    StructField("__key", StringType), StructField("__payload", StringType)))

  /** Envelope schema extended with a typed `__srow` column (the table's row
    * struct) for payloads that arrive already structured — those skip the
    * JSON round-trip entirely. */
  def envelopeSchemaFor(tableSchema: StructType): StructType =
    StructType(envelopeSchema.fields :+ StructField("__srow", tableSchema))

  /** Fully DISTRIBUTED apply path: envelopes stay in a DataFrame end to
    * end — integral-float normalization runs as a UDF on executors, decode
    * is `from_json`, and nothing is collected to the driver. This is the
    * scale path for streams (CdcStreamSink) and bulk loads; the Seq-based
    * `apply` above adds the reference's per-record driver-side validation
    * semantics on top of it. */
  def applyEnvelopes(spark: SparkSession, store: TableStore,
      config: CdcConfig, env: DataFrame,
      commitTags: Map[String, String] = Map.empty): Stats = {
    require(store.exists(config.table), s"table ${config.table} does not exist")
    if (config.autoEvolve) evolveFromPayloads(spark, store, config, env)
    val schema = store.schema(config.table)
    val keySchema = StructType(config.keyCols.map(c =>
      schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"key column $c not in table schema"))))
    // malformed JSON passes through unchanged: the PERMISSIVE from_json
    // flags it via the corrupt-record column under the validation scope
    // (a throw here would fail the batch even for net losers)
    val normalize = udf((s: String) =>
      if (s == null) null
      else try CdcDecode.normalizeIntegralFloats(s)
      catch { case _: com.fasterxml.jackson.core.JacksonException => s })

    // Distributed decode: schema-enforced parse against the catalog-owned
    // table schema (S3) and typed key struct. Payloads parse PERMISSIVE
    // with a corrupt-record capture column, so malformedness is a COUNTED
    // validation outcome under the configured scope (strict = any record,
    // net-only = net winners) instead of a FAILFAST throw that would fail
    // the batch even for records that lose last-write-wins. Keys still
    // parse FAILFAST: an unreadable key cannot be placed in the per-key
    // ordering at all. Envelopes that carry a typed __srow (structured
    // payloads) bypass the JSON parse.
    require(!schema.fieldNames.contains("__corrupt"),
      "table schema uses the reserved column name __corrupt")
    val extSchema = StructType(schema.fields :+
      StructField("__corrupt", StringType))
    val parsed = when(col("__payload").isNotNull,
      from_json(normalize(col("__payload")), extSchema,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "__corrupt")))
    val jsonRow = when(col("__parsed").isNotNull, struct(
      schema.fields.map(f => col("__parsed").getField(f.name).as(f.name)).toSeq: _*))
    // a typed __srow may predate an auto-evolved schema — rebuild it
    // field-by-field against the CURRENT schema (absent fields null) so
    // the structured fast path and the JSON path stay type-identical
    val rowCol =
      if (!env.columns.contains("__srow")) jsonRow
      else {
        val srowFields = env.schema("__srow").dataType
          .asInstanceOf[StructType].fieldNames.toSet
        if (schema.fieldNames.forall(srowFields)) coalesce(col("__srow"), jsonRow)
        else when(col("__srow").isNotNull, struct(schema.fields.map { f =>
          (if (srowFields(f.name)) col("__srow").getField(f.name)
           else lit(null).cast(f.dataType)).as(f.name)
        }.toSeq: _*)).otherwise(jsonRow)
      }
    val decoded = env
      .withColumn("__k",
        from_json(normalize(col("__key")), keySchema, Map("mode" -> "FAILFAST")))
      .withColumn("__parsed", parsed)
      .withColumn("__corrupt", col("__parsed").getField("__corrupt"))
      .withColumn("__row", rowCol)
    // backtick-quoted so a metadata-shaped name like `opencdc.createdAt`
    // resolves as one literal column, not nested-field access
    val ordCol = config.orderCol.map { oc =>
      require(env.columns.contains(oc),
        s"config.orderCol '$oc' is not a column of the envelope frame " +
          s"(columns: ${env.columns.mkString(", ")})")
      col(s"`$oc`").as("__ord")
    }
    val keyFields = config.keyCols.map(c => col("__k").getField(c).as(c))
    // Net effect per key: highest source-time order value wins when
    // configured (desc = nulls last, so a record missing the value loses
    // to any record carrying one), arrival order breaks ties; without
    // orderCol, last record by ingest order wins. The batch is ranked
    // ONCE and persisted: validation, the op counts and the whole commit
    // (key bounds, affected-file join, sidecar, upsert write) read it.
    val ordering =
      if (ordCol.isDefined) Seq(col("__ord").desc, col("__seq").desc)
      else Seq(col("__seq").desc)
    val w = Window.partitionBy(config.keyCols.map(col): _*)
      .orderBy(ordering: _*)
    val (ranked, rankedRows) = Bridge.persisted(decoded
      .select((keyFields :+ col("__seq") :+ col("__op") :+ col("__row")
        :+ col("__corrupt")) ++ ordCol.toSeq: _*)
      .withColumn("__rn", row_number().over(w)))
    try {
      val net = ranked.filter(col("__rn") === 1)

      // Distributed per-record validation and the net op counts, in one
      // pass over the ranked batch:
      //  - unknown/null op would otherwise silently act as a delete;
      //  - a non-delete with no payload would upsert an all-null ghost row;
      //  - an envelope key disagreeing with the payload's own key columns
      //    would delete one key and append another, duplicating keys;
      //  - a key missing a key column (F6 guard).
      // Scope: ALL records under strict validation (the reference rejects
      // per record), net winners only under net-only.
      val isNet = col("__rn") === 1
      val scope = if (config.strictValidation) lit(true) else isNet
      val upsertOps = Seq("create", "update", "snapshot")
      val anyKeyNull = config.keyCols
        .map(c => col(c).isNull).reduce(_ || _)
      val keyMismatch = config.keyCols
        .map(c => !(col("__row").getField(c) <=> col(c)))
        .reduce(_ || _)
      val flags = Seq(
        lit(true), // records in scope
        col("__corrupt").isNotNull,
        col("__op").isNull || !col("__op").isin((upsertOps :+ "delete"): _*),
        col("__op").isin(upsertOps: _*) && col("__row").isNull,
        col("__row").isNotNull && keyMismatch,
        anyKeyNull)
        .map(f => when(scope && f, 1L).otherwise(0L)) ++ Seq(
        when(isNet && col("__op") =!= "delete", 1L).otherwise(0L),
        when(isNet && col("__op") === "delete", 1L).otherwise(0L))
      // summed per task and then on the driver: one job, no exchange
      val Array(n, malformed, badOp, noPayload, mismatch, badKey, u, d) =
        ranked.select(flags: _*).rdd
          .map(r => Array.tabulate(r.length)(r.getLong))
          .fold(new Array[Long](flags.length)) { (a, b) =>
            a.indices.foreach(i => a(i) += b(i)); a
          }
      if (n == 0) return Stats(0, 0) // empty batch
      if (malformed > 0) throw new IllegalArgumentException(
        s"$malformed record(s) with malformed payload JSON")
      if (badOp > 0) throw new IllegalArgumentException(
        s"$badOp record(s) with unknown operation")
      if (noPayload > 0) throw new IllegalArgumentException(
        s"$noPayload non-delete record(s) have no after payload")
      if (mismatch > 0) throw new IllegalArgumentException(
        s"$mismatch record(s) whose payload key columns disagree " +
          "with the record key")
      if (badKey > 0) throw new IllegalArgumentException(
        "key has no fields (a record's key is missing a key column)")
      val upserts = net.filter(col("__op") =!= "delete")
        .select(col("__row.*"))
      // one row per key: the window partitions by the key columns
      store.applyNet(config.table, net.select(config.keyCols.map(col): _*),
        upserts, config.keyCols, meta = commitTags,
        distinctKeyCount = Some(u + d))
      Stats(u, d)
    } finally { rankedRows.unpersist(); () }
  }

  /** AUTO SCHEMA EVOLUTION (`CdcConfig.autoEvolve`): add table columns
    * for payload fields the table does not have yet, BEFORE the batch
    * applies — the evolution Iceberg sink connectors offer and the
    * reference pointedly lacks (it parses against the catalog schema and
    * silently drops unknown fields, SparkDestinationStream.java:216-227).
    *
    * Mechanics: one schema-inference pass over the BATCH's payload JSON
    * (Spark's reader union-infers field types; conflicting types widen to
    * string), minus the table's current columns (case-insensitive, so a
    * field differing only in case is NOT re-added), added in name order
    * via the metadata-only [[TableStore.addColumns]] — old files read the
    * new columns back as null, nothing rewrites. Scope: TOP-LEVEL fields;
    * a new subfield inside an existing struct column does not evolve the
    * struct (the parse keeps the declared type — evolve nested fields
    * explicitly via addNestedField).
    *
    * Cost at 100 TB: the inference job scans the incoming batch once —
    * cost ∝ batch, never the table — and is gated behind the option. */
  def evolveFromPayloads(spark: SparkSession, store: TableStore,
      config: CdcConfig, env: DataFrame): Seq[String] = {
    import spark.implicits._
    val payloads = env.filter(col("__payload").isNotNull)
      .select(col("__payload")).as[String]
    if (payloads.isEmpty) return Nil
    val inferred = spark.read.json(payloads).schema
    val existing = store.schema(config.table).fieldNames
      .map(_.toLowerCase).toSet
    val fresh = inferred.fields
      .filter(f => !existing.contains(f.name.toLowerCase) &&
        f.name != "_corrupt_record")
      .sortBy(_.name)
      .map(f => StructField(f.name, f.dataType, nullable = true))
    if (fresh.nonEmpty) store.addColumns(config.table, StructType(fresh))
    fresh.map(_.name).toSeq
  }

  /** Cross-batch stale-record guard: drop envelope records whose
    * `orderCol` value is OLDER than what the table already stores for
    * their key. This is the multi-batch completion of `CdcConfig
    * .orderCol` (which orders within one batch): keep the order value as
    * a table column, filter each incoming micro-batch against the stored
    * values, then apply. Records for unseen keys, and records without a
    * stored competitor, pass through. Deletes pass when their order value
    * is at least the stored one (a delete carries no payload, so its
    * order value rides the envelope column). Cost: one key-pruned read of
    * the table per batch — the same files applyNet would rewrite anyway.
    *
    * Tombstone caveat (inherent to guard-by-stored-value): once a delete
    * removes the row, NOTHING is stored to compare against, so a stale
    * update replayed after the delete re-inserts. Streams that replay
    * across deletes need the upstream to fence replays (e.g. Kafka
    * compaction retains the delete marker) or a retained tombstone table.
    */
  def guardStale(spark: SparkSession, store: TableStore, config: CdcConfig,
      env: DataFrame): DataFrame = {
    val oc = config.orderCol.getOrElse(throw new IllegalArgumentException(
      "guardStale requires config.orderCol"))
    require(store.schema(config.table).fieldNames.contains(oc),
      s"guardStale: order column $oc must be a column of table ${config.table}")
    require(env.columns.contains(oc),
      s"guardStale: order column $oc missing from the envelope frame")
    val keySchema = StructType(config.keyCols.map(c =>
      store.schema(config.table).fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"key column $c not in table schema"))))
    val keyed = env.withColumn("__gk",
      from_json(col("__key"), keySchema, Map("mode" -> "FAILFAST")))
    val stored = store.read(config.table)
      .select((config.keyCols.map(col) :+ col(oc).as("__stored_ord")): _*)
    val joinCond = config.keyCols
      .map(c => keyed("__gk").getField(c) <=> stored(c)).reduce(_ && _)
    keyed.join(stored, joinCond, "left")
      .filter(col("__stored_ord").isNull || keyed(oc) >= col("__stored_ord"))
      // project by left-side reference: a stored key column sharing a name
      // with an envelope column must not ambiguate the result
      .select(env.columns.map(keyed(_)).toSeq: _*)
  }

  /** Single-record conveniences mirroring the reference's per-record API
    * (SparkDestinationStream.java:94-136). Batch is the fast path. */
  def insert(spark: SparkSession, store: TableStore, config: CdcConfig,
      r: CdcRecord): Stats = apply(spark, store, config, Seq(r))
  def delete(spark: SparkSession, store: TableStore, config: CdcConfig,
      r: CdcRecord): Stats = apply(spark, store, config, Seq(r))
}
