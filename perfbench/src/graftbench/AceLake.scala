package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** ACeDB-shaped migration lake for the `migrate` workload, generated from
  * `--seed` together with the model of what the migration must produce.
  *
  * Layout under the lake root:
  *  - `dump/<Class>.ace`: the base dump, one file per class, one class per
  *    TPC-H entity table, orders carrying their lineitems as the
  *    multi-valued `Item` tag;
  *  - `logs/log-<k>.edn.gz`: timestamped update logs whose timestamps
  *    interleave across files, with retractions;
  *  - `patches/patch-<k>.ace`: `-D` retract-and-reassert pairs, plain
  *    retractions and new objects (card-one tags only);
  *  - `id_catalog.csv`: expected per-class counts with planted
  *    discrepancies.
  *
  * The model replays the same events sequentially (dump, then logs in
  * timestamp order, then patches) and never calls the program's
  * latest-wins code, so the benchmark can check the program against it.
  */
object AceLake {

  /** Tags holding several values per object (latestWinsMulti). */
  val ManyPaths: Set[String] = Set("Item")

  final case class QaRow(cls: String, nRef: Long, nDb: Long)

  /** Order-independent fingerprint of a datom set (e, path, value):
    * row count, XOR of xxhash64 and a bounded sum of it — the same
    * aggregate [[Migrate.fingerprint]] computes in Spark. */
  final case class Fingerprint(rows: Long, xor: Long, sum: Long)

  final case class Model(dumpDatoms: Long, logLines: Long,
                         patchDatoms: Long, qa: Seq[QaRow],
                         state: Fingerprint) {
    def inputRows: Long = dumpDatoms + logLines + patchDatoms
  }

  val HashMod = 1000003L

  def hashOf(e: String, path: String, value: String): Long = {
    var h = 42L
    h = XxHash64Function.hash(UTF8String.fromString(e), StringType, h)
    h = XxHash64Function.hash(UTF8String.fromString(path), StringType, h)
    XxHash64Function.hash(UTF8String.fromString(value), StringType, h)
  }

  def fingerprint(rows: Iterator[(String, String, String)]): Fingerprint = {
    var n = 0L; var x = 0L; var s = 0L
    rows.foreach { case (e, p, v) =>
      val h = hashOf(e, p, v)
      n += 1; x ^= h; s += java.lang.Math.floorMod(h, HashMod)
    }
    Fingerprint(n, x, s)
  }

  private final class Obj(val cls: String, val ident: String) {
    val one = mutable.LinkedHashMap.empty[String, String]
    val many = mutable.LinkedHashSet.empty[String]
    def e: String = s"$cls:$ident"
  }

  private val ClassOrder = Seq("Region", "Nation", "Customer", "Supplier",
    "Part", "Order", "Lineitem")

  /** Card-one tags an update may rewrite, per class. */
  private val Mutable = Map(
    "Customer" -> Seq("Balance", "Segment", "Nation"),
    "Supplier" -> Seq("Balance", "Nation"),
    "Part" -> Seq("Price", "Brand", "Size"),
    "Order" -> Seq("Status", "Total", "Priority"),
    "Lineitem" -> Seq("Quantity", "Price", "Discount", "Flag"))

  private def value(r: SplittableRandom, tag: String): String = tag match {
    case "Balance" | "Price" | "Total" =>
      f"${r.nextInt(1000000) / 100.0}%.2f"
    case "Segment" => Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
      "HOUSEHOLD", "MACHINERY")(r.nextInt(5))
    case "Nation" => s"Nation:${r.nextInt(25)}"
    case "Brand" => s"Brand#${1 + r.nextInt(25)}"
    case "Size" | "Quantity" => (1 + r.nextInt(50)).toString
    case "Status" => Seq("O", "F", "P")(r.nextInt(3))
    case "Priority" => Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
      "4-NOT SPECIFIED", "5-LOW")(r.nextInt(5))
    case "Discount" => f"0.${r.nextInt(11)}%02d"
    case "Flag" => Seq("A", "N", "R")(r.nextInt(3))
    case other => s"$other-${r.nextInt(1 << 20)}"
  }

  private def writer(f: File, gzip: Boolean = false): BufferedWriter = {
    f.getParentFile.mkdirs()
    val raw = new FileOutputStream(f)
    new BufferedWriter(new OutputStreamWriter(
      if (gzip) new GZIPOutputStream(raw, 1 << 16) else raw,
      StandardCharsets.UTF_8), 1 << 16)
  }

  private def paragraph(o: Obj): String = {
    val sb = new StringBuilder(s"""${o.cls} : "${o.ident}"""" + "\n")
    o.one.foreach { case (t, v) => sb.append(s"""$t "$v"""" + "\n") }
    o.many.foreach(v => sb.append(s"""Item "$v"""" + "\n"))
    sb.append("\n").toString
  }

  /** Generates the lake under `root` for `orders` orders and returns the
    * model. Same (seed, orders) → byte-identical files and model. */
  def generate(root: File, seed: Long, orders: Int): Model = {
    val r = new SplittableRandom(seed)
    val objs = mutable.LinkedHashMap.empty[String, Obj]
    def add(cls: String, ident: String)(tags: (String, String)*): Obj = {
      val o = new Obj(cls, ident)
      tags.foreach { case (t, v) => o.one(t) = v }
      objs(o.e) = o
      o
    }
    val customers = math.max(10, orders / 10)
    val suppliers = math.max(10, orders / 100)
    val parts = math.max(10, orders / 8)
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .foreach { case (n, i) => add("Region", i.toString)("Name" -> n) }
    (0 until 25).foreach(i =>
      add("Nation", i.toString)("Name" -> s"NATION_$i",
        "Region" -> s"Region:${i % 5}"))
    (0 until customers).foreach(i =>
      add("Customer", i.toString)("Name" -> f"Customer#$i%09d",
        "Nation" -> value(r, "Nation"), "Balance" -> value(r, "Balance"),
        "Segment" -> value(r, "Segment")))
    (0 until suppliers).foreach(i =>
      add("Supplier", i.toString)("Name" -> f"Supplier#$i%09d",
        "Nation" -> value(r, "Nation"), "Balance" -> value(r, "Balance")))
    (0 until parts).foreach(i =>
      add("Part", i.toString)("Name" -> s"part-$i",
        "Brand" -> value(r, "Brand"), "Size" -> value(r, "Size"),
        "Price" -> value(r, "Price")))
    (0 until orders).foreach { o =>
      val ord = add("Order", o.toString)(
        "Customer" -> s"Customer:${r.nextInt(customers)}",
        "Status" -> value(r, "Status"), "Total" -> value(r, "Total"),
        "Date" -> f"199${5 + r.nextInt(5)}-${1 + r.nextInt(12)}%02d-01",
        "Priority" -> value(r, "Priority"))
      (1 to 1 + r.nextInt(7)).foreach { ln =>
        val li = add("Lineitem", s"${o}_$ln")("Order" -> ord.e,
          "Part" -> s"Part:${r.nextInt(parts)}",
          "Supplier" -> s"Supplier:${r.nextInt(suppliers)}",
          "Quantity" -> value(r, "Quantity"), "Price" -> value(r, "Price"),
          "Discount" -> value(r, "Discount"), "Flag" -> value(r, "Flag"),
          "Shipdate" -> f"199${5 + r.nextInt(5)}-${1 + r.nextInt(12)}%02d-15")
        ord.many += li.e
      }
    }

    // ---- base dump: one .ace file per class --------------------------
    var dumpDatoms = 0L
    ClassOrder.foreach { cls =>
      val w = writer(new File(root, s"dump/$cls.ace"))
      try objs.valuesIterator.filter(_.cls == cls).foreach { o =>
        w.write(paragraph(o)); dumpDatoms += o.one.size + o.many.size
      } finally w.close()
    }

    // ---- logs: unique increasing ts, interleaved over 4 files ---------
    val nLogFiles = 4
    val logs = (0 until nLogFiles).map(k =>
      writer(new File(root, f"logs/log-$k%02d.edn.gz"), gzip = true))
    var ts = 1000000L
    var logLines = 0L
    def log(kw: String, e: String, path: String, v: String): Unit = {
      ts += 1 + r.nextInt(5)
      logs(r.nextInt(nLogFiles))
        .write(s"""[$kw "$e" :$path "$v" $ts]""" + "\n")
      logLines += 1
    }
    val byClass = objs.values.groupBy(_.cls).map { case (c, os) =>
      c -> os.toIndexedSeq }
    def pick(cls: String): Obj = { val v = byClass(cls); v(r.nextInt(v.size)) }
    val updates = (dumpDatoms / 12).toInt
    var newCustomer = customers
    (0 until updates).foreach { _ =>
      val roll = r.nextInt(100)
      if (roll < 70) { // card-one rewrite
        val cls = Seq("Customer", "Supplier", "Part", "Order", "Lineitem",
          "Lineitem", "Order")(r.nextInt(7))
        val o = pick(cls)
        val tag = Mutable(cls)(r.nextInt(Mutable(cls).size))
        val v = value(r, tag)
        o.one(tag) = v
        log(":db/add", o.e, tag, v)
      } else if (roll < 82) { // card-one retraction
        val o = pick(Seq("Customer", "Part", "Lineitem")(r.nextInt(3)))
        val tags = Mutable(o.cls).filter(o.one.contains)
        if (tags.nonEmpty) {
          val tag = tags(r.nextInt(tags.size))
          log(":db/retract", o.e, tag, o.one.remove(tag).get)
        }
      } else if (roll < 92) { // multi-valued add / retract
        val o = pick("Order")
        if (o.many.nonEmpty && r.nextBoolean()) {
          val v = o.many.toIndexedSeq(r.nextInt(o.many.size))
          o.many -= v
          log(":db/retract", o.e, "Item", v)
        } else {
          val v = s"Lineitem:${o.ident}_${8 + r.nextInt(4)}"
          o.many += v
          log(":db/add", o.e, "Item", v)
        }
      } else if (roll < 98) { // a new customer object
        val o = add("Customer", newCustomer.toString)()
        newCustomer += 1
        Seq("Name" -> s"Customer#new-${o.ident}",
          "Nation" -> value(r, "Nation"), "Balance" -> value(r, "Balance"))
          .foreach { case (t, v) => o.one(t) = v; log(":db/add", o.e, t, v) }
      } else { // a customer removed: every tag retracted
        val o = pick("Customer")
        o.one.toSeq.foreach { case (t, v) =>
          log(":db/retract", o.e, t, v); o.one.remove(t) }
      }
    }
    logs.foreach(_.close())

    // ---- patches: card-one only, each (e, tag) at most once -----------
    var patchDatoms = 0L
    val nPatchFiles = 3
    val touched = mutable.HashSet.empty[String]
    var newPart = 0
    (0 until nPatchFiles).foreach { k =>
      val w = writer(new File(root, f"patches/patch-$k%02d.ace"))
      // a fixed mix per file, so the change set's size barely varies
      // with the seed
      try (0 until math.max(20, orders / 10)).foreach { i =>
        val roll = i % 10
        if (roll < 8) {
          val o = pick(Seq("Customer", "Part", "Order", "Lineitem")(
            r.nextInt(4)))
          if (o.one.nonEmpty && touched.add(o.e)) {
            val sb = new StringBuilder(s"""${o.cls} : "${o.ident}"""" + "\n")
            val tags = Mutable(o.cls).filter(o.one.contains)
            tags.take(2).foreach { tag =>
              val old = o.one(tag)
              if (roll < 6) { // retract-and-reassert pair
                var nv = value(r, tag)
                while (nv == old) nv = value(r, tag)
                sb.append(s"""-D $tag "$old"""" + "\n")
                sb.append(s"""$tag "$nv"""" + "\n")
                o.one(tag) = nv; patchDatoms += 2
              } else { // plain retraction
                sb.append(s"""-D $tag "$old"""" + "\n")
                o.one.remove(tag); patchDatoms += 1
              }
            }
            w.write(sb.append("\n").toString)
          }
        } else { // a new part object
          val o = add("Part", s"new$newPart")("Name" -> "patched-part",
            "Brand" -> value(r, "Brand"), "Price" -> value(r, "Price"))
          newPart += 1
          w.write(paragraph(o)); patchDatoms += o.one.size
        }
      } finally w.close()
    }

    // ---- model: final state, class counts, catalog, QA ----------------
    val live = objs.values.filter(o => o.one.nonEmpty || o.many.nonEmpty)
    val counts = live.groupBy(_.cls).map { case (c, os) => c -> os.size.toLong }
    val catalog = counts.toSeq.sortBy(_._1).flatMap {
      case ("Region", _) => None             // a DB class the catalog lacks
      case ("Customer", n) => Some("Customer" -> (n + 3)) // lost objects
      case ("Part", n) => Some("Part" -> (n - 2))         // unexpected ones
      case other => Some(other)
    } :+ ("Warehouse" -> 7L)                  // a catalog class never built
    val cw = writer(new File(root, "id_catalog.csv"))
    try {
      cw.write("class_name,n_ref\n")
      catalog.foreach { case (c, n) => cw.write(s"$c,$n\n") }
    } finally cw.close()
    val refs = catalog.toMap
    val qa = (counts.keySet ++ refs.keySet).toSeq.sorted.map(c =>
      QaRow(c, refs.getOrElse(c, 0L), counts.getOrElse(c, 0L)))
    val state = fingerprint(live.iterator.flatMap(o =>
      o.one.iterator.map { case (t, v) => (o.e, t, v) } ++
        o.many.iterator.map(v => (o.e, "Item", v))))
    Model(dumpDatoms, logLines, patchDatoms, qa, state)
  }
}
