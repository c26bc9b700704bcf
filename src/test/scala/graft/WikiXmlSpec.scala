package graft

import java.nio.file.Files

import graft.sources.WikiXml

/** S4/S5 ingest semantics on an inline fixture dump
  * (mirrors wiki_parser.py:138-204 filters). */
class WikiXmlSpec extends SparkSpec {

  private val goodText =
    "The quick brown fox jumps over the lazy dog in a sentence long enough to survive the fifty character minimum."

  private val dump =
    s"""<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.10/">
       |  <siteinfo><sitename>Testwiki</sitename></siteinfo>
       |  <page>
       |    <title>Good Article</title>
       |    <ns>0</ns>
       |    <id>11</id>
       |    <revision><id>900</id><text bytes="120">$goodText</text></revision>
       |  </page>
       |  <page>
       |    <title>A Redirect</title>
       |    <ns>0</ns>
       |    <id>12</id>
       |    <redirect title="Good Article"/>
       |    <revision><id>901</id><text>#REDIRECT [[Good Article]]</text></revision>
       |  </page>
       |  <page>
       |    <title>Template:Infobox</title>
       |    <ns>10</ns>
       |    <id>13</id>
       |    <revision><id>902</id><text>$goodText</text></revision>
       |  </page>
       |  <page>
       |    <title>Stub</title>
       |    <ns>0</ns>
       |    <id>14</id>
       |    <revision><id>903</id><text>   too short   </text></revision>
       |  </page>
       |  <page>
       |    <title>Ampersand &amp; Friends</title>
       |    <ns>0</ns>
       |    <id>15</id>
       |    <revision><id>904</id><text>$goodText It also mentions &lt;tags&gt; &amp; entities in the body text.</text></revision>
       |  </page>
       |</mediawiki>
       |""".stripMargin

  private lazy val path = {
    val f = Files.createTempFile("dump", ".xml")
    Files.writeString(f, dump)
    f.toString
  }

  test("one record per page element") {
    assert(WikiXml.pages(spark, path).count() == 5)
  }

  test("filters drop non-zero namespace, redirects, and short text") {
    val ids = WikiXml.articles(spark, path)
      .select("page_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 15L))
  }

  test("maxArticles caps the articles; past the Int range it fails loudly") {
    assert(WikiXml.articles(spark, path, Some(1L)).count() == 1L)
    val e = intercept[IllegalArgumentException](
      WikiXml.articles(spark, path, Some(3000000000L)))
    assert(e.getMessage.contains("max_articles"), e.getMessage)
  }

  test("page id is the page-level id, not the revision id") {
    val row = WikiXml.articles(spark, path)
      .filter("title = 'Good Article'").collect().head
    assert(row.getAs[Long]("page_id") == 11L)
  }

  test("entities decode in titles and body; derived counts present") {
    val row = WikiXml.articles(spark, path)
      .filter("page_id = 15").collect().head
    assert(row.getAs[String]("title") == "Ampersand & Friends")
    assert(row.getAs[String]("text").contains("<tags> & entities"))
    assert(row.getAs[Int]("word_count") > 20)
    assert(row.getAs[Int]("char_count") > WikiXml.MinTextChars)
  }

  test("S2: a real .bz2 dump decompresses through the Hadoop codec path") {
    // compress the same fixture with bzip2 (commons-compress, on the
    // Spark classpath) and read it back through the identical scan —
    // Hadoop's codec resolves on the .bz2 extension.
    val bz = Files.createTempFile("dump", ".xml.bz2")
    val out = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorOutputStream(Files.newOutputStream(bz))
    out.write(dump.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(WikiXml.pages(spark, bz.toString).count() == 5)
    val ids = WikiXml.articles(spark, bz.toString)
      .select("page_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(11L, 15L))
  }
}
