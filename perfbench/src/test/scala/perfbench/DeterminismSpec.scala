package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs and the stub's failure schedule are functions
  * of the seed only. */
class DeterminismSpec extends AnyFunSuite {
  private def flaky(g: IngestGen) =
    (-1 to 30).flatMap(w => (0 until IngestGen.FilesPerWave).map(n => f"w$w%03d_n$n%02d.pdf")).filter(g.isFlaky)

  test("the stub's failure schedule depends only on the seed") {
    assert(flaky(new IngestGen(7L)) == flaky(new IngestGen(7L)))
    assert(flaky(new IngestGen(7L)) != flaky(new IngestGen(8L)))
  }

  test("each wave has exactly one flaky document, and it is admitted") {
    val g = new IngestGen(7L)
    (-1 to 12).foreach { w =>
      assert(g.wave(w).files.count(f => g.isFlaky(f.relPath.split('/').last)) == 1)
      assert(g.wave(w).docs.count(d => g.isFlaky(d.fileName)) == 1)
    }
  }

  test("a wave that retrains a folder lands in that folder") {
    val g = new IngestGen(7L)
    g.evolutions.foreach { case (w, t) => assert(g.wave(w).table == t && g.wave(w).docs.forall(_.table == t)) }
  }

  private def fingerprint(g: IngestGen, w: Int) =
    g.wave(w).files.map(f => (f.relPath, f.bytes.toSeq, f.doc))

  test("ingest waves depend only on the seed and the wave number") {
    (-1 to 8).foreach { w =>
      assert(fingerprint(new IngestGen(3L), w) == fingerprint(new IngestGen(3L), w))
    }
    assert(fingerprint(new IngestGen(3L), 2) != fingerprint(new IngestGen(4L), 2))
  }

  test("ingest waves carry PDFs whose text holds the expected KPI lines") {
    val docs = new IngestGen(5L).wave(0).files.filter(_.doc.isDefined)
    assert(docs.nonEmpty)
    docs.foreach { f =>
      val text = graft.operators.PdfCodec.extractText(f.bytes).get.mkString("\n")
      val kv = StubGateway.parse(text).toMap
      assert(kv.keySet == Set("Revenue ($)", "Report Date", "Region"))
    }
  }

  test("analytics tables are the same for the same seed") {
    val spark = TestSpark.spark
    def rows(seed: Long) = {
      val dir = java.nio.file.Files.createTempDirectory("perfbench-gen")
      try {
        AnalyticsGen.write(spark, seed, dir.toString)
        Seq("orders", "documents", "embeddings").map { t =>
          spark.read.parquet(s"$dir/$t.parquet").collect().map(_.toString).sorted.toSeq
        }
      } finally Workload.deleteTree(dir)
    }
    val a = rows(11L)
    assert(a == rows(11L))
    assert(a != rows(12L))
  }
}
