package graft.sinks

import graft.SparkSpec
import graft.state.StateStore
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class SinksStateSpec extends SparkSpec {
  import ss.implicits._

  test("BrCsvSink.polish formats money/dates and cleans text in-frame") {
    val df = Seq((1234.5, "2024-01-31", "99.0", "NÃƒO", "nan"))
      .toDF("valor", "dt", "id", "flag", "missing")
      .withColumn("dt", col("dt").cast("date"))
    val out = BrCsvSink.polish(df,
      moneyCols = Seq("valor"), dateCols = Seq("dt"), idCols = Seq("id"),
      textCols = Seq("flag", "missing")).collect().head
    assert(out.getString(0) == "1234,50")
    assert(out.getString(1) == "31/01/2024")
    assert(out.getString(2) == "99")
    assert(out.getString(3) == "NÃO")
    assert(out.isNullAt(4))
  }

  test("BrCsvSink.writePartitioned writes per-value directories") {
    val dir = Files.createTempDirectory("sink").toString + "/out"
    val df = Seq(("A", 1), ("A", 2), ("B", 3)).toDF("produto", "v")
    BrCsvSink.writePartitioned(df, dir, "produto")
    val parts = Files.list(Paths.get(dir)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (parts.hasNext) names += parts.next().getFileName.toString
    assert(names.count(_.startsWith("produto=")) == 2)
    val back = ss.read.option("header", "true").option("sep", ";").csv(dir)
    assert(back.count() == 3)
  }

  test("BrCsvSink part files carry the utf-8-sig BOM and scrubbed dir names") {
    val dir = Files.createTempDirectory("sinkbom").toString + "/out"
    // reference scrub: `CONSIG/INSS *` → `CONSIGINSS` (keep alnum/space/_ then rstrip)
    val df = Seq(("CONSIG/INSS *", 1), ("CART_BB", 2)).toDF("produto", "v")
    BrCsvSink.writePartitioned(df, dir, "produto")
    val names = Files.list(Paths.get(dir)).iterator()
    val dirs = new scala.collection.mutable.ArrayBuffer[String]
    while (names.hasNext) dirs += names.next().getFileName.toString
    assert(dirs.filter(_.startsWith("produto=")).sorted ==
      Seq("produto=CART_BB", "produto=CONSIGINSS"))
    // every part file starts with the EF BB BF signature, like utf-8-sig
    val partFile = Files.walk(Paths.get(dir)).iterator()
    var checked = 0
    while (partFile.hasNext) {
      val p = partFile.next()
      if (p.getFileName.toString.endsWith(".csv")) {
        val head = Files.readAllBytes(p).take(3)
        assert(head.sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)), s"no BOM in $p")
        checked += 1
      }
    }
    assert(checked >= 2)
    // pandas-style utf-8-sig read-back: BOM is consumed by the decoder, so
    // the header column comes back clean through our own BOM-tolerant ingest
    val back = graft.sources.Ingest.normalizeColumns(
      ss.read.option("header", "true").option("sep", ";").csv(dir))
    assert(back.columns.toSeq.sorted == Seq("produto", "v"))
    assert(back.count() == 2)
  }

  test("BrCsvSink.writeBySlots fans products into slot-named partitions") {
    val dir = Files.createTempDirectory("slots").toString + "/robo"
    val df = Seq(("EPB", 1), ("EMR", 2), ("ERO", 3), ("EAC", 4), ("ZZZ", 5))
      .toDF("PRODUTO", "v")
    BrCsvSink.writeBySlots(df, col("PRODUTO"),
      Map("08HRS" -> Seq("EPB", "EMR"), "09HRS" -> Seq("ERO"), "10HRS" -> Seq("EAC")), dir)
    val slots = Files.list(Paths.get(dir)).iterator()
    val names = new scala.collection.mutable.ArrayBuffer[String]
    while (slots.hasNext) names += slots.next().getFileName.toString
    assert(names.filter(_.startsWith("slot=")).sorted ==
      Seq("slot=08HRS", "slot=09HRS", "slot=10HRS"))
    val back = ss.read.option("header", "true").option("sep", "|").csv(dir)
    // unmapped product ZZZ dropped; slot recovers the grouping
    assert(back.count() == 4)
    val in08 = back.filter(col("slot") === "08HRS")
      .select("PRODUTO").collect().map(_.getString(0)).sorted
    assert(in08.toSeq == Seq("EMR", "EPB"))
    // a product in two slot groups exports into BOTH slots' files — the
    // reference's per-slot isin loop matches each slot independently
    val dir2 = Files.createTempDirectory("slots2").toString + "/robo"
    BrCsvSink.writeBySlots(df, col("PRODUTO"),
      Map("08HRS" -> Seq("EPB"), "09HRS" -> Seq("EPB", "ERO")), dir2)
    val back2 = ss.read.option("header", "true").option("sep", "|").csv(dir2)
    val epbSlots = back2.filter(col("PRODUTO") === "EPB")
      .select("slot").collect().map(_.getString(0)).sorted
    assert(epbSlots.toSeq == Seq("08HRS", "09HRS"))
    assert(back2.count() == 3) // EPB twice + ERO once; others unmapped
  }

  test("BrCsvSink writers return the row count a re-read of their output finds") {
    val df = Seq[(String, Int)](("EPB", 1), ("EPB", 2), ("ERO", 3), (null, 4), ("  ", 5), ("ZZZ", 6))
      .toDF("PRODUTO", "v")
    def dir(name: String) = Files.createTempDirectory(name).toString + "/out"
    // EPB sits in two slot groups, so the explode writes each EPB row twice
    val slots = Map("08HRS" -> Seq("EPB"), "09HRS" -> Seq("EPB", "ERO"))
    val bySlot = dir("count-slots")
    val nSlots = BrCsvSink.writeBySlots(df, col("PRODUTO"), slots, bySlot)
    assert(nSlots == 5 && nSlots == csvRowCount(bySlot, "|"))
    // null and blank partition values are dropped before the write
    val byProduct = dir("count-parts")
    val nParts = BrCsvSink.writePartitioned(df, byProduct, "PRODUTO")
    assert(nParts == 4 && nParts == csvRowCount(byProduct, ";"))
    // an empty input writes, and counts, nothing
    val empty = df.filter(lit(false))
    val emptyParts = dir("count-empty-parts")
    assert(BrCsvSink.writePartitioned(empty, emptyParts, "PRODUTO") == 0L)
    assert(csvRowCount(emptyParts, ";") == 0L)
    val emptySlots = dir("count-empty-slots")
    assert(BrCsvSink.writeBySlots(empty, col("PRODUTO"), slots, emptySlots) == 0L)
    assert(csvRowCount(emptySlots, "|") == 0L)
  }

  test("Archiver zips a directory and can remove the source") {
    val dir = Files.createTempDirectory("arch")
    Files.write(dir.resolve("a.csv"), "1;2\n".getBytes)
    Files.createDirectories(dir.resolve("sub"))
    Files.write(dir.resolve("sub/b.csv"), "3;4\n".getBytes)
    val zip = dir.toString + ".zip"
    val n = Archiver.zipDirectory(dir.toString, zip, removeSource = true)
    assert(n == 2 && Files.exists(Paths.get(zip)) && !Files.exists(dir))
    val zf = new java.util.zip.ZipFile(zip)
    try {
      val entries = zf.entries()
      val names = new scala.collection.mutable.ArrayBuffer[String]
      while (entries.hasMoreElements) names += entries.nextElement().getName
      assert(names.toSet == Set("a.csv", "sub/b.csv"))
    } finally zf.close()
  }

  test("StateStore round-trips success metrics and survives failure writes") {
    val p = Files.createTempDirectory("state").toString + "/state.json"
    val store = new StateStore(p)
    assert(store.status.isEmpty && store.lastMetrics.isEmpty)
    store.saveSuccess(Map("initial" -> 100L, "human" -> 60L))
    assert(store.status.contains("COMPLETED"))
    assert(store.lastMetrics == Map("initial" -> 100L, "human" -> 60L))
    store.saveFailure("""boom "quoted" \path""")
    assert(store.status.contains("FAILED") && store.lastMetrics.isEmpty)
  }

  test("StateStore failure with multi-line Spark-style message stays valid JSON") {
    val p = Files.createTempDirectory("state").toString + "/state.json"
    val store = new StateStore(p)
    store.saveFailure("Job aborted.\nCaused by: java.io.IOException\n\tat org.apache\r")
    val content = Files.readString(java.nio.file.Paths.get(p))
    // no raw control characters may survive inside the JSON document
    assert(!content.exists(c => c < ' ' && c != '\n'), "unescaped control char leaked")
    assert(content.contains("\\n") && content.contains("\\t") && content.contains("\\r"))
    assert(store.status.contains("FAILED"))
  }
}
