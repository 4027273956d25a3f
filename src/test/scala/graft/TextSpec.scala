package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.llm.Text

/** The one text front end: `Text.words` and `Text.grams` give exactly what
  * the inline spellings they replaced gave, and no operator spells either
  * one on its own again. */
class TextSpec extends SparkSpec {
  // the spellings `Text` replaced, kept here as independent references
  private def oldWords(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")
  private def oldBigrams(t: Column): Column =
    transform(sequence(lit(1), size(t) - 1),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1)))
  private def oldShingleHashes(t: Column): Column =
    array_distinct(transform(sequence(lit(1), size(t) - 4),
      i => xxhash64(concat_ws(" ", slice(t, i, lit(5))))))

  // the sf0.01 fixture beside the suite's own
  private lazy val sf001 = Tables.documents(spark,
    java.nio.file.Paths.get(sfDir).resolveSibling("sf0.01").toString)

  /** Rows where the two columns differ (null-safe). */
  private def mismatches(df: DataFrame, a: Column, b: Column): Long =
    df.select(a.as("a"), b.as("b")).where(!(col("a") <=> col("b"))).count()

  private val edges: Seq[String] = Seq("", " ", "\t\n ", "  lead", "trail  ",
    "Tab\tand\nNewline", "a\u00a0b c", "ÉCOLE Straße", "One  two   three", null)

  test("words equals the old filter(split(lower(..))) spelling on edge rows and every sf0.01 document") {
    import spark.implicits._
    val edgeDf = edges.toDF("text")
    assert(mismatches(edgeDf, Text.words(col("text")), oldWords(col("text"))) == 0)
    // pinned outright as well, so a change to both spellings cannot pass
    val got = edgeDf.select(Text.words(col("text"))).collect().map(r =>
      Option(r.getList[String](0)).map(_.asScala.toList).orNull).toSeq
    assert(got == Seq(Nil, Nil, Nil, List("lead"), List("trail"),
      List("tab", "and", "newline"), List("a\u00a0b", "c"), // U+00A0 is not \s
      List("école", "straße"), List("one", "two", "three"), null))
    assert(sf001.count() == 500)
    assert(mismatches(sf001, Text.words(col("text")), oldWords(col("text"))) == 0)
  }

  test("grams(t, 2) is the element_at bigram, grams(t, 5, xxhash64) the old shingle hashes") {
    val t = sf001.select(Text.words(col("text")).as("t"))
    val bi = t.where(size(col("t")) >= 2)
    assert(bi.count() > 0)
    assert(mismatches(bi, Text.grams(col("t"), 2), oldBigrams(col("t"))) == 0)
    val sh = t.where(size(col("t")) >= 5)
    assert(sh.count() > 0)
    assert(mismatches(sh, array_distinct(Text.grams(col("t"), 5, xxhash64(_))),
      oldShingleHashes(col("t"))) == 0)
  }

  test("the word tokenizer and the gram window are spelled only in Text.scala") {
    val sources = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    // DataFrame spellings only: the char split (`""`) and the SQL strings
    // (single-quoted patterns, `string_split_regex`) must not match
    val wordSplit = """split\(lower\([^"]*("[^"]*")?[^"]*\), "\\\\s\+"\)""".r
    val gramWindow = Seq("concat_ws(\" \", slice(", "concat_ws(\" \", element_at(")
    def spelledIn(p: java.nio.file.Path): Boolean = {
      val src = java.nio.file.Files.readString(p)
      wordSplit.findFirstIn(src).isDefined || gramWindow.exists(src.contains)
    }
    assert(sources.filter(spelledIn).map(_.getFileName.toString) == Seq("Text.scala"))
    assert(wordSplit.findFirstIn("""filter(split(lower(col("text")), "\\s+"), t => t =!= "")""").isDefined)
    assert(wordSplit.findFirstIn("""explode(split(lower(col("text")), "")).as("ch")""").isEmpty)
    assert(wordSplit.findFirstIn("""string_split_regex(lower(text), '\s+')""").isEmpty)
  }
}
