package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Where a generated row must end up after the workload's passes. */
sealed trait Bucket
object Bucket {
  // internal ("a") side
  case object Cancelled extends Bucket
  case object Exact extends Bucket
  case object Tolerance extends Bucket
  case object Relaxed extends Bucket
  case object ARemanent extends Bucket
  // external ("b") side; a matched external row carries its internal twin's bucket
  case object Displaced extends Bucket
  case object DroppedMiddle extends Bucket
  case object BRemanent extends Bucket
}

/** Internal ledger row (the Mongo side). `bucket` is the expected outcome. */
final case class IRow(id: String, code: String, cents: Long, ts: Long, bin: String,
    card: String, last4: String, kind: String, ticket: String, saleTicket: String,
    approval: String, bucket: Bucket) {
  def amount: Double = Gen.toDouble(cents)
  def line: String = Seq(id, s"REF$id", approval, "ACQUIRER", "MERCHANT", "PROC", code,
    "APPROVED", kind, ticket, saleTicket, bin, card, last4, ts.toString,
    Gen.decimal(cents)).mkString(",")
}

/** External settlement row (the CSV side). `partner` is the internal id it must pair with. */
final case class ERow(id: String, code: String, cents: Long, ts: Long, bin: String,
    card: String, last4: String, approval: String, ticket: String, bucket: Bucket,
    partner: String) {
  def line: String = Seq(id, s"R$id", Gen.decimal(cents), "SALE", approval, "APPROVED",
    ts.toString, bin, card, last4, code, "PROC", "EC", "ACQUIRER", ticket).mkString(",")
}

/** Shares of reconciliation groups by kind; whatever is left over is plain exact 1:1. */
final case class Mix(tolerance: Double, boundary: Double, beyond: Double, zeroPairs: Double,
    duplicates: Double, maxMultiplicity: Int, aOnly: Double, bOnly: Double)

/** One generated batch: internal rows, external rows in file order, expected outcomes. */
final case class Batch(internal: IndexedSeq[IRow], external: IndexedSeq[ERow]) {
  def csv: String = (Gen.CsvHeader +: external.map(_.line)).mkString("", "\n", "\n")
  def internalCounts: Map[Bucket, Int] = internal.groupBy(_.bucket).map { case (k, v) => k -> v.size }
  def externalCounts: Map[Bucket, Int] = external.groupBy(_.bucket).map { case (k, v) => k -> v.size }
  def internalCents: Map[Bucket, Long] = internal.groupBy(_.bucket).map { case (k, v) => k -> v.map(_.cents).sum }
}

/**
 * Seeded input generator. Every reconciliation group owns a unique
 * `transaction_code`, so groups never interact and each row's outcome is
 * known in closed form from its group kind and the external file order:
 *  - exact with multiplicity m: the first external row (by file order) is
 *    matched, the last is displaced back into the external remanents, the
 *    m-2 middle ones are dropped;
 *  - amount drift d cents: matched by the tolerance pass when the engine's
 *    double comparison |a - b| <= tol accepts it (the parity arm), else left
 *    for the relaxed pass or the remanents;
 *  - SALE/VOID pairs cancel; one-sided rows stay remanent.
 */
object Gen {
  val TolCents = 10L
  val Tolerance: Double = toDouble(TolCents)
  val CsvHeader = "_id,referencia,importe,tipo_de_transaccion,codigo_aprobacion," +
    "estado_transaccion,fecha,digitos_bin,kind_card,ultimos4,codigo_ksh,processor_name," +
    "country_name,processor_type,ticket_code"

  def decimal(cents: Long): String = java.math.BigDecimal.valueOf(cents, 2).toPlainString
  def toDouble(cents: Long): Double = decimal(cents).toDouble

  /** The engine's tolerance predicate, evaluated the way Spark evaluates it. */
  def doubleAccepts(aCents: Long, bCents: Long): Boolean =
    math.abs(toDouble(aCents) - toDouble(bCents)) <= Tolerance

  /** `n` groups; ids and codes are prefixed with `tag` so batches never collide.
    * `relaxed`: a later pass matches on every key but the amount. */
  def batch(seed: Long, tag: String, n: Int, mix: Mix, tsFrom: Long, tsSpan: Long,
      relaxed: Boolean): Batch = {
    val rng = new java.util.Random(seed ^ tag.hashCode.toLong * 0x9E3779B97F4A7C15L)
    val ints = IndexedSeq.newBuilder[IRow]
    val exts = scala.collection.mutable.ArrayBuffer.empty[(ERow, Int)] // (row, multiplicity)
    var extN = 0
    def digits(k: Int): String = {
      val sb = new StringBuilder
      (0 until k).foreach(_ => sb.append(('0' + rng.nextInt(10)).toChar))
      sb.toString
    }
    (0 until n).foreach { g =>
      val code = s"$tag-$g"
      val cents = 100L + rng.nextInt(500000)
      val ts = tsFrom + (rng.nextDouble() * tsSpan).toLong
      val bin = digits(8)
      val card = if (rng.nextBoolean()) "credit" else "debit"
      val last4 = digits(4)
      val approval = digits(6)
      def internal(id: String, c: Long, kind: String, ticket: String, sale: String, b: Bucket) =
        IRow(id, code, c, ts, bin, card, last4, kind, ticket, sale, approval, b)
      def external(c: Long, b: Bucket, partner: String, m: Int): Unit = {
        exts += ((ERow(s"E$tag-$extN", code, c, ts, bin, card, last4, approval,
          s"T$tag-$g", b, partner), m))
        extN += 1
      }
      val id = s"I$tag-$g"
      def drifted(d: Long): Unit = {
        val c2 = if (cents - d < 100 || rng.nextBoolean()) cents + d else cents - d
        val b =
          if (doubleAccepts(cents, c2)) Bucket.Tolerance
          else if (relaxed) Bucket.Relaxed
          else Bucket.ARemanent
        ints += internal(id, cents, "SALE", s"T$tag-$g", null, b)
        external(c2, if (b == Bucket.ARemanent) Bucket.BRemanent else b, id, 1)
      }
      val u = rng.nextDouble()
      var acc = mix.tolerance
      if (u < acc) drifted(1 + rng.nextInt(TolCents.toInt - 1))
      else if (u < { acc += mix.boundary; acc }) drifted(TolCents)
      else if (u < { acc += mix.beyond; acc }) drifted(TolCents + 1 + rng.nextInt(190))
      else if (u < { acc += mix.zeroPairs; acc }) {
        ints += internal(id, cents, "SALE", s"T$tag-$g", null, Bucket.Cancelled)
        ints += internal(s"V$tag-$g", cents, "VOID", s"TV$tag-$g", s"T$tag-$g", Bucket.Cancelled)
      } else if (u < { acc += mix.aOnly; acc }) {
        ints += internal(id, cents, "SALE", s"T$tag-$g", null, Bucket.ARemanent)
      } else if (u < { acc += mix.bOnly; acc }) {
        external(cents, Bucket.BRemanent, null, 1)
      } else {
        val m = if (u < acc + mix.duplicates) 2 + rng.nextInt(mix.maxMultiplicity - 1) else 1
        ints += internal(id, cents, "SALE", s"T$tag-$g", null, Bucket.Exact)
        (0 until m).foreach(_ => external(cents, Bucket.Exact, id, m))
      }
    }
    // file order is a seeded shuffle; duplicate outcomes follow file order
    val shuffled = exts.toArray
    (shuffled.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val external = shuffled.toIndexedSeq.map { case (e, m) =>
      if (m == 1) e
      else {
        val k = seen.getOrElse(e.code, 0)
        seen(e.code) = k + 1
        if (k == 0) e
        else if (k == m - 1) e.copy(bucket = Bucket.Displaced, partner = null)
        else e.copy(bucket = Bucket.DroppedMiddle, partner = null)
      }
    }
    Batch(ints.result(), external)
  }

  /** SHA-256 over the canonical text of both sides: the CSV bytes exactly, and
    * one line per internal row in generation order. */
  def digest(batches: Seq[Batch], extra: Seq[String] = Nil): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    batches.foreach { b =>
      b.internal.foreach(r => md.update((r.line + "\n").getBytes(UTF_8)))
      md.update(b.csv.getBytes(UTF_8))
    }
    extra.foreach(s => md.update((s + "\n").getBytes(UTF_8)))
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }
}
