package perfbench

import java.time.LocalDate

/** Seeded generator of the ingest workload's landing waves and of the
  * values the pipeline must produce for them. Everything here is a
  * function of the seed and the wave number only. */
final class IngestGen(seed: Long) {
  import IngestGen._

  /** (uid, folder) pairs, one table each. */
  val tables: Seq[(String, String)] =
    for (t <- 0 until Tenants; f <- 0 until FoldersPerTenant) yield (s"u$t", s"f$f")

  /** The wave at which each evolved table is retrained. */
  val evolutions: Map[Int, (String, String)] =
    EvolutionWaves.zipWithIndex.map { case (w, i) => w -> tables((i * 3 + 1) % tables.size) }.toMap

  def evolvedBy(table: (String, String), wave: Int): Boolean =
    evolutions.exists { case (w, t) => t == table && w <= wave }

  /** Wave w's table, the positions of its junk files and of its one
    * flaky document, and a draw for picking the other table the client
    * reads after it. A wave that retrains a folder lands in that folder. */
  final case class Layout(table: (String, String), junkAt: Set[Int], flakyAt: Int, otherDraw: Int)

  def layout(w: Int): Layout = {
    val rnd = new scala.util.Random(seed * 7919L + w)
    val table = evolutions.getOrElse(w, tables(rnd.nextInt(tables.size)))
    val slots = rnd.shuffle((0 until FilesPerWave).toList)
    Layout(table, slots.take(JunkPerWave).toSet, slots(JunkPerWave), rnd.nextInt(1 << 20))
  }

  private val Name = """w(-?\d+)_n(\d+)\.pdf""".r

  /** Whether the extraction stub fails the first attempt of a batch
    * holding this document: one admitted document per wave. */
  def isFlaky(fileName: String): Boolean = fileName match {
    case Name(w, n) => layout(w.toInt).flakyAt == n.toInt
    case _ => false
  }

  def wave(w: Int): Wave = {
    val rnd = new scala.util.Random(seed * 1000003L + w)
    val lay = layout(w)
    val (u, f) = lay.table
    val files = (0 until FilesPerWave).map { i =>
      val name = f"w$w%03d_n$i%02d"
      if (lay.junkAt(i)) {
        rnd.nextInt(3) match {
          case 0 => Landed(s"incoming/$u/$f/batch/$name.txt", s"Revenue ($$)=$$1.00".getBytes("UTF-8"), None)
          case 1 => Landed(s"incoming/$u/$f/master/$name.pdf",
            graft.operators.PdfCodec.encode(Seq(Seq("Region=North")), compress = false), None)
          case _ => Landed(s"incoming/$u/$f/batch/$name.placeholder", Array.emptyByteArray, None)
        }
      } else {
        val evolved = evolvedBy((u, f), w)
        val rev = rnd.nextInt(600000) - 100000
        val day = LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(1500).toLong)
        val region = Regions(rnd.nextInt(Regions.length))
        val margin = rnd.nextInt(90) + 1
        val kpis = Seq(
          "Revenue ($)" -> formatMoney(rev, rnd.nextBoolean()),
          "Report Date" -> formatDate(day, rnd.nextInt(3)),
          "Region" -> region) ++ (if (evolved) Seq("Margin %" -> s"$margin%") else Nil)
        val expected = Map(
          "kpi_revenue____" -> Some((rev / 100.0).toString),
          "kpi_report_date" -> Some(day.toString),
          "kpi_region" -> (if (region == "N/A") None else Some(region)),
          "kpi_margin__" -> (if (evolved) Some(margin.toDouble.toString) else None))
        val pages = 2 + rnd.nextInt(PagesMax - 1)
        val lines = kpis.map { case (k, v) => s"$k=$v" }
        val perPage = (0 until pages).map { p =>
          lines.zipWithIndex.collect { case (l, j) if j % pages == p => l } ++
            Seq(s"Page ${p + 1} of $pages", "Prepared for internal review")
        }
        val pdf = graft.operators.PdfCodec.encode(perPage, compress = rnd.nextDouble() < CompressedShare)
        Landed(s"incoming/$u/$f/batch/$name.pdf", pdf, Some(Doc(w, (u, f), s"$name.pdf", expected)))
      }
    }
    Wave(w, lay.table, lay.otherDraw, files)
  }
}

object IngestGen {
  val Tenants = 3
  val FoldersPerTenant = 2
  val FilesPerWave = 10
  val JunkPerWave = 2
  val PagesMax = 3
  val CompressedShare = 0.5
  val EvolutionWaves: Seq[Int] = Seq(2, 5)
  val Regions: Seq[String] = Seq("North", "South", "East", "West", "N/A")

  val BaseKpis: Map[String, String] = Map(
    "Revenue ($)" -> "$1,234.56", "Report Date" -> "January 15, 2024", "Region" -> "North")
  val EvolvedKpis: Map[String, String] = BaseKpis + ("Margin %" -> "12%")

  final case class Doc(wave: Int, table: (String, String), fileName: String,
                       expected: Map[String, Option[String]])
  final case class Landed(relPath: String, bytes: Array[Byte], doc: Option[Doc])
  final case class Wave(index: Int, table: (String, String), otherDraw: Int, files: Seq[Landed]) {
    def docs: Seq[Doc] = files.flatMap(_.doc)
  }

  private val Months = Seq("January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December")

  def formatMoney(cents: Int, dollarSign: Boolean): String = {
    val abs = math.abs(cents.toLong)
    val body = String.format(java.util.Locale.ROOT, "%,d.%02d", Long.box(abs / 100), Long.box(abs % 100))
    val s = (if (dollarSign) "$" else "") + body
    if (cents < 0) s"($s)" else s
  }

  def formatDate(d: LocalDate, style: Int): String = style match {
    case 0 => d.toString
    case 1 => s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
    case _ => s"${Months(d.getMonthValue - 1)} ${d.getDayOfMonth}, ${d.getYear}"
  }
}
