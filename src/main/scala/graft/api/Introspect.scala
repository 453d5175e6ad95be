package graft.api

import org.apache.spark.sql.DataFrame

import graft.index.{GraftIndex, SegmentWriter}

/** `table_list` / `column_list` command analogues — catalog introspection
  * over a committed index directory, in the reference's output column
  * shape (doc/source/reference/commands/table_list.rst: id, name, path,
  * flags, domain, range, default_tokenizer, normalizer; column_list.rst:
  * id, name, path, type, flags, domain, range, source). Values come from
  * the manifest + parquet schemas; ids are deterministic ordinals. */
object Introspect {

  private val Tables = SegmentWriter.Tables

  /** the index's view of `table`, over every segment */
  private def tableDf(idx: GraftIndex, table: String): DataFrame = table match {
    case "postings" => idx.postings
    case "terms" => idx.terms
    case "terms_rev" => idx.termsRev
    case "docs" => idx.docs
    case other => throw new IllegalArgumentException(
      s"unknown index table '$other' (${Tables.mkString(", ")})")
  }

  def tableList(idx: GraftIndex): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val m = idx.meta
    val flags = Seq(
      Some("PERSISTENT"),
      if (m.withPositions) Some("WITH_POSITION") else None,
      if (m.sections.nonEmpty) Some("WITH_SECTION") else None
    ).flatten.mkString("|")
    Tables.zipWithIndex.map { case (name, i) =>
      (i.toLong, name, s"${idx.path}/$name", flags, "Doc", "",
        m.tokenizer, "NormalizerNFKC")
    }.toDF("id", "name", "path", "flags", "domain", "range",
      "default_tokenizer", "normalizer")
  }

  /** `schema` command analogue (reference lib/proc/proc_schema.c — one JSON
    * object with plugins/types/tokenizers/normalizers/token_filters/tables
    * sections; each table carries key_type, tokenizer, normalizer, its
    * re-creation `command`, and its columns). Re-expressed relationally:
    * one row per object, `(section, name, body)` with `body` the
    * reference-shaped JSON for that object — section/name sort order is
    * deterministic, so the output is golden-testable and diffable. The
    * registries are THIS engine's (what `Analyzers.byName` /
    * `Normalizers.byName` accept), the per-table JSON mirrors the
    * reference's field naming (schema/tables/tokenizer.expected). */
  def schemaCmd(idx: GraftIndex): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val m = idx.meta
    val tokenizers = Seq("TokenBigram", "TokenUnigram", "TokenTrigram",
      "TokenBigramSplitSymbol", "TokenBigramSplitSymbolAlpha",
      "TokenBigramSplitSymbolAlphaDigit", "TokenBigramIgnoreBlank",
      "TokenDelimit", "TokenDelimitNull", "TokenNgram", "TokenPattern",
      "TokenTable")
    val normalizers = Seq("NormalizerAuto", "NormalizerNFKC",
      "NormalizerHTML", "NormalizerTable")
    val tokenFilters = Seq("TokenFilterStopWord", "TokenFilterStem",
      "TokenFilterStemS", "TokenFilterUnifyKana")
    def named(section: String, names: Seq[String]): Seq[(String, String, String)] =
      names.sorted.zipWithIndex.map { case (n, i) =>
        (section, n, s"""{"id":$i,"name":"$n"}""")
      }
    val flags = Seq(
      Some("PERSISTENT"),
      if (m.withPositions) Some("WITH_POSITION") else None,
      if (m.sections.nonEmpty) Some("WITH_SECTION") else None
    ).flatten.mkString("|")
    val tables = Tables.zipWithIndex.map { case (t, i) =>
      val tok = if (t == "postings" || t == "terms") m.tokenizer else ""
      val tokJson = if (tok.isEmpty) "null" else s"""{"name":"$tok","options":null}"""
      val cmd = s"table_create --name $t --flags TABLE_PAT_KEY" +
        (if (tok.nonEmpty) s" --default_tokenizer $tok" else "")
      ("tables", t,
        s"""{"id":$i,"name":"$t","type":"patricia trie",""" +
          s""""key_type":{"name":"ShortText","type":"type"},""" +
          s""""tokenizer":$tokJson,"normalizer":{"name":"NormalizerNFKC"},""" +
          s""""flags":"$flags",""" +
          s""""command":{"name":"table_create","command_line":"$cmd"}}""")
    }
    val columns = Tables.flatMap { t =>
      tableDf(idx, t).schema.fields.zipWithIndex.map { case (f, i) =>
        val ty = CommandFormat.grnType(f.dataType)
        ("columns", s"$t.${f.name}",
          s"""{"id":$i,"name":"${f.name}","table":"$t","type":"$ty",""" +
            s""""flags":"COLUMN_SCALAR|PERSISTENT",""" +
            s""""command":{"name":"column_create","command_line":""" +
            s""""column_create --table $t --name ${f.name} --type $ty"}}""")
      }
    }
    (named("tokenizers", tokenizers) ++ named("normalizers", normalizers) ++
      named("token_filters", tokenFilters) ++ tables ++ columns)
      .toDF("section", "name", "body")
  }

  /** `object_inspect` analogue (reference lib/proc/proc_object_inspect.c;
    * body shape after test/command/suite/object_inspect/table.expected:
    * id/name/type/key/n_records). One row per inspected object; inspect a
    * table by name, or a column as "table.column". `disk_usage` is
    * deliberately omitted — parquet footprint varies with codec/runtime,
    * and a non-deterministic field would poison golden tests. */
  def objectInspect(idx: GraftIndex, name: String): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    val body = name.split('.') match {
      case Array(t) =>
        val i = Tables.indexOf(t)
        require(i >= 0, s"unknown object '$name'")
        val n = tableDf(idx, t).count()
        s"""{"id":$i,"name":"$t","type":{"name":"table:pat_key"},""" +
          s""""key":{"type":{"name":"ShortText","type":{"name":"type"}}},""" +
          s""""n_records":$n}"""
      case Array(t, c) =>
        val df = tableDf(idx, t)
        val f = df.schema.fields.zipWithIndex.find(_._1.name == c)
          .getOrElse(throw new IllegalArgumentException(
            s"unknown column '$c' in '$t'"))
        val ty = CommandFormat.grnType(f._1.dataType)
        s"""{"id":${f._2},"name":"$c","table":"$t",""" +
          s""""type":{"name":"$ty","raw":{"name":"$ty"}},""" +
          s""""value":{"type":{"name":"$ty"}},"n_records":${df.count()}}"""
      case _ => throw new IllegalArgumentException(s"bad object name '$name'")
    }
    Seq((name, body)).toDF("name", "body")
  }

  def columnList(idx: GraftIndex, table: String = "postings"): DataFrame = {
    val spark = idx.spark
    import spark.implicits._
    tableDf(idx, table).schema.fields.zipWithIndex.map { case (f, i) =>
      (i.toLong, f.name, s"${idx.path}/$table",
        CommandFormat.grnType(f.dataType), "COLUMN_SCALAR|PERSISTENT",
        table, CommandFormat.grnType(f.dataType), "")
    }.toSeq.toDF("id", "name", "path", "type", "flags", "domain", "range", "source")
  }
}
