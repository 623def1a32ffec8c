package perfbench

import graft.recon._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/**
 * A workload: how each unit's inputs are shaped and which passes run.
 * @param groups  reconciliation groups per unit (about one internal and one
 *                external row each)
 * @param distinct distinct input sets; unit i reads set i mod distinct
 * @param carry   share of the internal rows that re-enter as prior-day
 *                remanents, plus the results-store size they upsert into
 */
final case class Workload(name: String, groups: Int, distinct: Int, mix: Mix,
    threePasses: Boolean, carry: Option[Carry] = None, spanMs: Long = 30L * 60 * 1000)

final case class Carry(priorShare: Double, storeRows: Long)

/** Paths of one unit's generated inputs plus what the unit must produce. */
final case class UnitInput(internal: String, external: String, prior: Option[(String, String)],
    store: Option[String], expect: Expect)

/** Expected outcome of one unit, in closed form from the generator. */
final case class Expect(batch: Batch, storeRows: Option[Long]) {
  val internalById: Map[String, IRow] = batch.internal.map(r => r.id -> r).toMap
  val externalById: Map[String, ERow] = batch.external.map(r => r.id -> r).toMap
  /** Internal ids whose external twin sits exactly at ±tolerance. */
  val boundaryIds: Set[String] = batch.external.collect {
    case e if e.partner != null &&
      math.abs(e.cents - internalById(e.partner).cents) == Gen.TolCents => e.partner
  }.toSet
  def inputRows: Long = batch.internal.size.toLong + batch.external.size
}

/** Outcome of the per-unit output check. */
final case class Checked(ok: Boolean, counters: Map[String, Long], problems: Seq[String])

object Pipeline {
  val Tol = ToleranceRule(KeyPair("ext_importe", "approved_transaction_amount"), Gen.Tolerance)
  /** The reference's six RC_KEYS: one double, one long, four strings. */
  val Conf = ReconConfig(
    keys = Seq(
      KeyPair("ext_codigo_ksh", "transaction_code"),
      Tol.pair,
      KeyPair("ext_fecha", "create_timestamp"),
      KeyPair("ext_digitos_bin", "bin_code"),
      KeyPair("ext_kind_card", "card_type"),
      KeyPair("ext_ultimos4", "last_four_digit_code")),
    types = FieldTypes(longFields = Set("create_timestamp"),
      doubleFields = Set("approved_transaction_amount")),
    externalId = "ext__id",
    tolerance = Some(Tol),
    zeroEffect = Some(ZeroEffectRule("transaction_type", "SALE", "VOID",
      Seq("ticket_code", "approved_transaction_amount"),
      Seq("sale_ticket_code", "approved_transaction_amount"))))
  /** exact → tolerance → amount key relaxed. */
  val ThreePasses = Seq(
    Conf.copy(tolerance = None),
    Conf,
    Conf.copy(keys = Conf.keysWithoutTolerance, tolerance = None))
  val IntFields = Seq("_id", "reference_transaction_code", "approval_code", "processor_type",
    "merchant_name", "processor_name", "transaction_code", "transaction_status_type",
    "transaction_type", "ticket_code", "sale_ticket_code", "bin_code", "card_type",
    "last_four_digit_code", "create_timestamp", "approved_transaction_amount")
  val IntSchema = StructType(IntFields.map(f => StructField(f, Conf.types.sparkTypeOf(f))))
  val ExtOrder = col("file_row_number")
  val Day0 = 1714521600000L // 2024-05-01T00:00Z

  private def toRow(r: IRow): Row = Row(r.id, s"REF${r.id}", r.approval, "ACQUIRER", "MERCHANT",
    "PROC", r.code, "APPROVED", r.kind, r.ticket, r.saleTicket, r.bin, r.card, r.last4, r.ts,
    r.amount)

  private def writeInternal(spark: SparkSession, rows: Seq[IRow], path: String): Unit =
    spark.createDataFrame(rows.map(toRow).asJava, IntSchema)
      .write.mode(SaveMode.Overwrite).parquet(path)

  private def writeText(path: String, text: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }

  /** Generate and write every distinct input set of `w`; returns them and the inputs' digest. */
  def generate(spark: SparkSession, w: Workload, seed: Long, dir: String): (IndexedSeq[UnitInput], String) = {
    val made = (0 until w.distinct).map { k =>
      val b = Gen.batch(seed, s"${w.name.take(1)}$k", w.groups, w.mix,
        Day0 + k * w.spanMs, w.spanMs, relaxed = w.threePasses)
      val d = s"$dir/in$k"
      writeText(s"$d/external.csv", b.csv)
      w.carry match {
        case None =>
          writeInternal(spark, b.internal, s"$d/internal")
          (UnitInput(s"$d/internal", s"$d/external.csv", None, None, Expect(b, None)), Seq.empty[String])
        case Some(c) =>
          val rng = new java.util.Random(seed * 31 + k)
          val prior = b.internal.filter(_ => rng.nextDouble() < c.priorShare)
          val priorIds = prior.map(_.id).toSet
          // 1% of the prior rows also arrive in today's batch; the stale
          // prior copy carries another amount, so only a current-wins
          // concat keeps the expected outcome
          val both = prior.filter(_ => rng.nextDouble() < 0.01)
          val current = b.internal.filterNot(r => priorIds(r.id)) ++ both
          val staleIds = both.map(_.id).toSet
          val settled = (0 until prior.size / 2).map(i => IRow(s"P$k-$i", s"PC$k-$i", 1000L + i,
            Day0 - 86400000L, "00000000", "debit", "0000", "SALE", s"PT$k-$i", null, "000000",
            Bucket.ARemanent))
          val transactions = prior.map(r => if (staleIds(r.id)) r.copy(cents = r.cents + 777) else r) ++ settled
          writeInternal(spark, current, s"$d/internal")
          writeInternal(spark, transactions, s"$d/prior_tx")
          import spark.implicits._
          prior.map(_.id).toDF("_id").write.mode(SaveMode.Overwrite).parquet(s"$d/prior_rem")
          writeStore(spark, c.storeRows, prior.map(_.id), s"$d/store")
          val kept = b.internal.count(_.bucket != Bucket.Cancelled)
          val replaced = prior.count(_.bucket != Bucket.Cancelled)
          val extRem = b.external.count(e => e.bucket == Bucket.BRemanent || e.bucket == Bucket.Displaced)
          val storeAfter = c.storeRows + prior.size - replaced + kept + extRem
          (UnitInput(s"$d/internal", s"$d/external.csv", Some((s"$d/prior_rem", s"$d/prior_tx")),
            Some(s"$d/store"), Expect(b, Some(storeAfter))),
            (current ++ transactions).map(_.line) :+ s"store ${c.storeRows} ${prior.size}")
      }
    }
    (made.map(_._1), Gen.digest(made.map(_._1.expect.batch), made.flatMap(_._2)))
  }

  /** Results store: `rows` earlier results plus yesterday's remanent rows, in the
    * internal schema with the audit columns the sinks stamp. */
  private def writeStore(spark: SparkSession, rows: Long, priorIds: Seq[String], path: String): Unit = {
    import spark.implicits._
    def fill(df: DataFrame, status: String): DataFrame = df.select(IntSchema.fields.map { f =>
      if (f.name == "_id") col("_id")
      else if (f.dataType == StringType) concat(lit(f.name.take(3)), (col("n") % 997).cast("string")).as(f.name)
      else (col("n") % 100003).cast(f.dataType).as(f.name)
    }.toIndexedSeq ++ Seq(
      lit(status).as("conciliation_status"),
      lit(Conf.keyCodeCsv).as("conciliation_key_code"),
      lit("prior").as("execution_id"),
      lit("2024-04-30").as("execution_date"),
      lit(Day0 - 86400000L).as("execution_timestamp"),
      lit("settlement.csv").as("external_source_name")): _*)
    val base = fill(spark.range(rows).select(concat(lit("S"), col("id").cast("string")).as("_id"),
      col("id").as("n")), "CONCILIATED")
    val prior = fill(priorIds.zipWithIndex.map { case (s, i) => (s, i.toLong) }.toDF("_id", "n"), "REMANENT")
    base.unionByName(prior).write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** One unit: sources → zero-effect → reconcile → sinks → publish, each in a span.
    * `dropRemanent` removes that id from the internal remanents (a forced defect). */
  def unit(spark: SparkSession, w: Workload, in: UnitInput, root: String, t: Tracer,
      dropRemanent: Option[String] = None): Row = {
    val recon = new Reconciler(Conf)
    val (a, b) = t.layer("sources") {
      val scanned = Sources.typedScan(spark, in.internal, IntFields, Conf.types)
      val a = in.prior.fold(scanned) { case (rem, tx) =>
        Sources.concatPreferFirst(scanned, Sources.remanentLookup(spark.read.parquet(rem),
          Sources.typedScan(spark, tx, IntFields, Conf.types), "_id"), "_id")
      }
      (a, Sources.prepareExternal(Sources.csvAllString(spark, in.external), Conf))
    } { case (a, b) => (t.mat(a, "a"), t.mat(b, "b")) }
    val reduced = t.layer("zero_effect")(recon.applyZeroEffect(a, Conf.zeroEffect.get, col("_id"))) {
      case (r, pairs) => t.mat(pairs, "pairs", handedOn = false); t.mat(r, "reduced")
    }
    val res = t.layer("reconcile") {
      if (w.threePasses) recon.iterate(reduced, b, ExtOrder, ThreePasses, truncateLineage = true)
      else recon.reconcilePass(reduced, b, ExtOrder, truncate = true)
    } { r =>
      ReconResult(t.mat(r.matched, "matched"), t.mat(r.internalRemanent, "a_rem"),
        t.mat(r.externalRemanent, "b_rem"))
    }
    val aRem = dropRemanent.fold(res.internalRemanent)(id => res.internalRemanent.where(col("_id") =!= id))
    val (summary, out) = t.layer("sinks") {
      val audit = AuditSpec(s"unit${t.unit}", "2024-05-01", Day0, "settlement.csv")
      val results = recon.diagonalUnion(Seq(
        ExprBuilder.withAudit(res.matched, Conf, audit, "CONCILIATED"),
        ExprBuilder.withAudit(aRem, Conf, audit, "REMANENT"),
        ExprBuilder.withAudit(res.externalRemanent, Conf, audit, "EXTERNAL_REMANENT")))
      val summary = Sinks.summary(res.matched, aRem, res.externalRemanent,
        "approved_transaction_amount", "ext_importe", "_id", "ext__id")
      (summary, in.store.fold(results)(s =>
        Sinks.upsert(spark.read.parquet(s), results, "_id", overwrite = true)))
    } { case (summary, out) => (summary.collect().head, t.mat(out, "out")) }
    t.layer("publish")(out) { o =>
      Publish.publish(o, root)
      t.addRows(t.counts.getOrElse("out", 0L))
    }
    summary
  }

  private def cents(x: Double): Long =
    new java.math.BigDecimal(java.lang.Double.toString(x)).setScale(2).unscaledValue.longValueExact

  /**
   * Checks the published version and the collected summary against the
   * generator, from outside the program: every input row lands in exactly one
   * bucket (counts and exact-decimal amounts balance), each row's bucket and
   * partner are the expected ones, and no external row is consumed twice.
   */
  def check(spark: SparkSession, root: String, unitId: Int, e: Expect, summary: Row): Checked = {
    val published = Publish.readCurrent(spark, root)
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    e.storeRows.foreach { n =>
      val got = published.count()
      if (got != n) problems += s"store rows $got != $n"
    }
    val rows = published.where(col("execution_id") === s"unit$unitId")
      .select("conciliation_status", "_id", "ext__id", "tolerance_diff",
        "approved_transaction_amount", "ext_importe").collect()
    val intObs = scala.collection.mutable.Map.empty[String, Bucket]
    val extObs = scala.collection.mutable.Map.empty[String, Bucket]
    val extUses = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var matchedCents, aRemCents, bRemCents = 0L
    var matchedN, aRemN, bRemN = 0L
    def seeInt(id: String, b: Bucket): Unit =
      if (!e.internalById.contains(id)) problems += s"unknown internal id $id"
      else if (intObs.put(id, b).nonEmpty) problems += s"internal id $id published twice"
    def seeExt(id: String, b: Bucket): Unit =
      if (!e.externalById.contains(id)) problems += s"unknown external id $id"
      else { extUses(id) += 1; extObs(id) = b }
    rows.foreach { r =>
      r.getString(0) match {
        case "CONCILIATED" =>
          val (id, ext) = (r.getString(1), r.getString(2))
          val amount = r.getDouble(4)
          val kind =
            if (!r.isNullAt(3) && r.getDouble(3) > 0) Bucket.Tolerance
            else if (amount == r.getDouble(5)) Bucket.Exact
            else Bucket.Relaxed
          seeInt(id, kind); seeExt(ext, kind)
          if (e.externalById.get(ext).exists(_.partner != id)) problems += s"$ext paired with $id"
          matchedN += 1; matchedCents += cents(amount)
        case "REMANENT" =>
          seeInt(r.getString(1), Bucket.ARemanent); aRemN += 1; aRemCents += cents(r.getDouble(4))
        case "EXTERNAL_REMANENT" =>
          val ext = r.getString(2)
          seeExt(ext, if (e.externalById.get(ext).exists(_.bucket == Bucket.Displaced))
            Bucket.Displaced else Bucket.BRemanent)
          bRemN += 1; bRemCents += cents(r.getDouble(5))
        case s => problems += s"unexpected status $s"
      }
    }
    val intBucket = e.batch.internal.map(r => r -> intObs.getOrElse(r.id, Bucket.Cancelled))
    val extBucket = e.batch.external.map(r => r -> extObs.getOrElse(r.id, Bucket.DroppedMiddle))
    val wrong = intBucket.count { case (r, b) => r.bucket != b } + extBucket.count { case (r, b) => r.bucket != b }
    if (wrong > 0) problems += s"$wrong rows in the wrong bucket"
    // conservation in exact decimal: a_in = cancelled + matched + a_remanent,
    // with the cancelled share being whatever the outputs do not account for
    val aInCents = e.batch.internal.map(_.cents).sum
    val cancelledCents = aInCents - matchedCents - aRemCents
    val expCancelled = e.batch.internalCents.getOrElse(Bucket.Cancelled, 0L)
    if (cancelledCents != expCancelled)
      problems += s"internal control total off by ${Gen.decimal(cancelledCents - expCancelled)}"
    val multi = extUses.values.count(_ > 1).toLong
    if (multi > 0) problems += s"$multi external rows consumed more than once"
    val sum = Map(
      "conciliated_count" -> summary.getAs[Long]("conciliated_count").toDouble,
      "internal_remanent_count" -> summary.getAs[Long]("internal_remanent_count").toDouble,
      "external_remanent_count" -> summary.getAs[Long]("external_remanent_count").toDouble,
      "conciliated_amount" -> summary.getAs[Double]("conciliated_amount"),
      "internal_remanent_amount" -> summary.getAs[Double]("internal_remanent_amount"),
      "external_remanent_amount" -> summary.getAs[Double]("external_remanent_amount"))
    val want = Map(
      "conciliated_count" -> matchedN.toDouble, "internal_remanent_count" -> aRemN.toDouble,
      "external_remanent_count" -> bRemN.toDouble,
      "conciliated_amount" -> Gen.toDouble(matchedCents),
      "internal_remanent_amount" -> Gen.toDouble(aRemCents),
      "external_remanent_amount" -> Gen.toDouble(bRemCents))
    want.foreach { case (k, v) => if (sum(k) != v) problems += s"summary $k ${sum(k)} != $v" }
    def n(bs: Seq[Bucket], of: Seq[Bucket]) = of.count(bs.contains).toLong
    val ib = intBucket.map(_._2)
    val eb = extBucket.map(_._2)
    val counters = Map(
      "matched_exact" -> n(Seq(Bucket.Exact), ib),
      "matched_tolerance" -> n(Seq(Bucket.Tolerance), ib),
      "matched_relaxed" -> n(Seq(Bucket.Relaxed), ib),
      "cancelled" -> n(Seq(Bucket.Cancelled), ib),
      "a_remanent" -> aRemN,
      "b_remanent" -> bRemN,
      "displaced" -> n(Seq(Bucket.Displaced), eb),
      "dropped_middle" -> n(Seq(Bucket.DroppedMiddle), eb),
      "ext_multi_consumed" -> multi,
      "result_rows" -> rows.length.toLong,
      "boundary_misses" -> e.boundaryIds.count(id => !intObs.get(id).contains(Bucket.Tolerance)).toLong)
    Checked(problems.isEmpty, counters, problems.take(5).toSeq)
  }
}
