package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Introspect
import graft.index.{GraftIndex, IndexBuilder, IndexConfig}

/** `schema` command goldens (reference lib/proc/proc_schema.c; body shapes
  * after test/command/suite/schema/tables/tokenizer.expected — per-object
  * JSON with name/type/key_type/tokenizer/normalizer/command fields). */
class SchemaCmdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val idx: GraftIndex = {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString + "/idx"
    val docs = Seq((1L, "spark fulltext engine"), (2L, "schema command test"))
      .toDF("doc_id", "text")
    IndexBuilder.build(spark, docs, "doc_id", "text", dir, IndexConfig())
    GraftIndex(spark, dir)
  }

  test("sections complete, deterministic order, one row per object") {
    val rows = Introspect.schemaCmd(idx)
      .select("section", "name").as[(String, String)].collect().toSeq
    val bySection = rows.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(bySection("tokenizers").size == 12)
    assert(bySection("normalizers") ==
      Seq("NormalizerAuto", "NormalizerHTML", "NormalizerNFKC", "NormalizerTable"))
    assert(bySection("token_filters").size == 4)
    assert(bySection("tables") == Seq("postings", "terms", "terms_rev", "docs"))
    // every index table contributes its columns
    assert(bySection("columns").count(_.startsWith("postings.")) ==
      idx.postings.schema.fields.length)
    assert(rows.distinct.size == rows.size)
  }

  test("body goldens: registry entry, table with tokenizer, column command") {
    val bodies = Introspect.schemaCmd(idx)
      .select("section", "name", "body").as[(String, String, String)]
      .collect().map { case (s, n, b) => (s, n) -> b }.toMap
    assert(bodies(("tokenizers", "TokenBigram")) ==
      """{"id":0,"name":"TokenBigram"}""")
    assert(bodies(("tables", "postings")) ==
      """{"id":0,"name":"postings","type":"patricia trie",""" +
      """"key_type":{"name":"ShortText","type":"type"},""" +
      """"tokenizer":{"name":"TokenBigram","options":null},""" +
      """"normalizer":{"name":"NormalizerNFKC"},""" +
      """"flags":"PERSISTENT|WITH_POSITION",""" +
      """"command":{"name":"table_create","command_line":""" +
      """"table_create --name postings --flags TABLE_PAT_KEY""" +
      """ --default_tokenizer TokenBigram"}}""")
    val termCol = bodies(("columns", "terms.term"))
    assert(termCol.contains(""""name":"term","table":"terms","type":"ShortText""""),
      termCol)
    assert(termCol.contains(
      """"command_line":"column_create --table terms --name term --type ShortText""""),
      termCol)
  }

  test("object_inspect: table body with n_records, column body, bad names refused") {
    val docs = Introspect.objectInspect(idx, "docs")
      .select("body").as[String].head()
    assert(docs.contains(""""name":"docs","type":{"name":"table:pat_key"}"""), docs)
    assert(docs.contains(""""n_records":2"""), docs)
    val col = Introspect.objectInspect(idx, "docs.doc_id")
      .select("body").as[String].head()
    assert(col.contains(""""name":"doc_id","table":"docs""""), col)
    assert(col.contains(""""n_records":2"""), col)
    intercept[IllegalArgumentException](Introspect.objectInspect(idx, "nope"))
    intercept[IllegalArgumentException](Introspect.objectInspect(idx, "docs.nope"))
  }

  test("object_inspect counts terms_rev over every segment, as it counts terms") {
    val dir = java.nio.file.Files.createTempDirectory("graft-schema").toString + "/idx3"
    val docs = Seq((1L, "spark fulltext engine"), (2L, "schema command test"),
      (3L, "appended segment words"), (4L, "another late document")).toDF("doc_id", "text")
    IndexBuilder.build(spark, docs.where($"doc_id" <= 2), "doc_id", "text", dir, IndexConfig())
    for (d <- Seq(3L, 4L))
      graft.streaming.IncrementalIndex.appendSegment(spark, dir,
        docs.where($"doc_id" === d), "doc_id", "text", s"seg-$d")
    val idx3 = GraftIndex(spark, dir)
    assert(idx3.meta.dataSegments.size == 3)
    def nRecords(name: String): String = {
      val body = Introspect.objectInspect(idx3, name).select("body").as[String].head()
      """"n_records":(\d+)""".r.findFirstMatchIn(body).get.group(1)
    }
    assert(nRecords("terms_rev") == nRecords("terms"))
    assert(nRecords("terms_rev.rterm") == nRecords("terms"))
    assert(nRecords("terms").toLong == idx3.terms.count() && idx3.terms.count() > idx.terms.count())
  }
}
