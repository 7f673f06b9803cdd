package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.sources.{Formats, Tables}

/** End-to-end reference-binary parity (text file in → two formatted
  * output files) and file-format round-trips. */
class AppAndFormatsSpec extends SparkSpec {

  test("WordCountApp reproduces the reference's two output files exactly") {
    val dir = Files.createTempDirectory("graft-app")
    val input = dir.resolve("input.txt")
    Files.writeString(input,
      """the quick brown fox
        |the lazy dog; the end.
        |Fox fox!
        |""".stripMargin)
    WordCountApp.main(Array(input.toString, dir.toString))
    val alpha = Files.readString(dir.resolve("output.txt"))
    val freq = Files.readString(dir.resolve("output2.txt"))
    // golden: byte order (capitals first), case-sensitive counts
    assert(alpha ==
      """=== Final Word Counts (A → Z) ===
        |Fox -> 1
        |brown -> 1
        |dog -> 1
        |end -> 1
        |fox -> 2
        |lazy -> 1
        |quick -> 1
        |the -> 3
        |""".stripMargin)
    assert(freq ==
      """=== Final Word Counts (High → Low) ===
        |the -> 3
        |fox -> 2
        |Fox -> 1
        |brown -> 1
        |dog -> 1
        |end -> 1
        |lazy -> 1
        |quick -> 1
        |""".stripMargin)
    // the sink's scratch part files are gone
    val ls = Files.list(dir)
    val names = try ls.iterator().asScala.map(_.getFileName.toString).toSet
      finally ls.close()
    assert(names == Set("input.txt", "output.txt", "output2.txt"))
  }

  test("non-ASCII end-to-end: product golden files + byte-exact delta pinned") {
    // The reference's own corpus was Finnish wikipedia (README.md:36-38)
    // — this fixture exercises exactly the semantics split the ASCII
    // oracle corpus cannot: multi-byte LETTERS (ä, ö — word chars on
    // both paths) and multi-byte NON-LETTER punctuation (–, … — bytes
    // >= 0x80, glued into words by the reference main.cpp:59-64, but
    // delimiters to the product regex `[^\p{L}]+`).
    val dir = Files.createTempDirectory("graft-app-fi")
    val input = dir.resolve("input.txt")
    val text =
      """syksyn sää on kaunis – eikö olekin…
        |sää oli kaunis… mutta kylmä
        |""".stripMargin
    Files.writeString(input, text) // nio defaults to UTF-8
    WordCountApp.main(Array(input.toString, dir.toString))
    // golden, product regex path: ö/ä keep their words intact; the
    // lone "–" vanishes; "olekin…"/"kaunis…" shed the ellipsis (so
    // kaunis counts 2); alphabetical = UTF-8 BYTE order, which puts
    // "syksyn" BEFORE "sää" ('y' 0x79 < 'ä' 0xC3A4) — same memcmp
    // order the reference's std::string < produces.
    val alpha = Files.readString(dir.resolve("output.txt"))
    assert(alpha ==
      """=== Final Word Counts (A → Z) ===
        |eikö -> 1
        |kaunis -> 2
        |kylmä -> 1
        |mutta -> 1
        |olekin -> 1
        |oli -> 1
        |on -> 1
        |syksyn -> 1
        |sää -> 2
        |""".stripMargin)
    val freq = Files.readString(dir.resolve("output2.txt"))
    assert(freq ==
      """=== Final Word Counts (High → Low) ===
        |kaunis -> 2
        |sää -> 2
        |eikö -> 1
        |kylmä -> 1
        |mutta -> 1
        |olekin -> 1
        |oli -> 1
        |on -> 1
        |syksyn -> 1
        |""".stripMargin)
    // byte-exact reference semantics over the same lines, and the
    // EXACT token-level delta between the two paths:
    val byteCounts = text.split("\n").toSeq
      .flatMap(graft.functions.Tokenizer.tokenizeBytes)
      .groupBy(identity).view.mapValues(_.size).toMap
    val regexCounts = alpha.linesIterator.drop(1).map { l =>
      val Array(w, c) = l.split(" -> "); w -> c.toInt
    }.toMap
    // reference-only tokens: punctuation-glued words and the bare dash
    assert(byteCounts.keySet -- regexCounts.keySet ==
      Set("–", "olekin…", "kaunis…"))
    // product-only token: the unglued "olekin"
    assert(regexCounts.keySet -- byteCounts.keySet == Set("olekin"))
    // merge accounting: product "kaunis" absorbs reference "kaunis…"
    assert(byteCounts("kaunis") == 1 && byteCounts("kaunis…") == 1 &&
      regexCounts("kaunis") == 2)
    // everywhere multi-byte punctuation is not involved, the paths
    // agree exactly — including the multi-byte-LETTER words
    ((byteCounts.keySet intersect regexCounts.keySet) - "kaunis")
      .foreach(w => assert(byteCounts(w) == regexCounts(w), w))
  }

  test("csv and jsonl round-trip the orders table with explicit schema") {
    val orders = Tables.table(spark, sfDir, "orders")
    val sorted = orders.orderBy("o_orderkey")
    val want = sorted.collect().map(_.toString).toSeq

    val csvDir = Files.createTempDirectory("graft-csv").toString
    Formats.writeCsv(sorted, csvDir)
    val backCsv = Formats.readCsv(spark, csvDir, orders.schema)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(backCsv == want)

    val jsonDir = Files.createTempDirectory("graft-json").toString
    Formats.writeJsonl(sorted, jsonDir)
    val backJson = Formats.readJsonl(spark, jsonDir, orders.schema)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(backJson == want)

    val orcDir = Files.createTempDirectory("graft-orc").toString
    Formats.writeOrc(sorted, orcDir)
    val backOrc = Formats.readOrc(spark, orcDir)
      .orderBy("o_orderkey").collect().map(_.toString).toSeq
    assert(backOrc == want)
  }

  test("jsonl quarantine: malformed lines isolated, clean rows parse") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft-jsonl-q").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.jsonl"),
      """{"id": 1, "name": "ok"}
        |{"id": 2, "name": "also ok"}
        |{"id": 3, "name": BROKEN
        |not json at all
        |{"id": 4, "name": "fine"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val read = Formats.readJsonlWithQuarantine(spark, dir, schema)
    import spark.implicits._
    assert(read.clean.as[(Long, String)].collect().sorted.toSeq ==
      Seq((1L, "ok"), (2L, "also ok"), (4L, "fine")))
    val bad = read.quarantined.as[String].collect()
    assert(bad.length == 2)
    assert(bad.exists(_.contains("BROKEN")) &&
      bad.exists(_.contains("not json")))
    read.release() // cache dropped; lanes were already materialized
  }
}
