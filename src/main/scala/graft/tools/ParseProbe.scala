package graft.tools

import ThreadScaling.{stage, texts}

/** Dev-only: which extraction stage limits thread scaling? */
object ParseProbe {
  def main(args: Array[String]): Unit = {
    stage("parse-only", { i => graft.extract.HtmlDom.parse(texts(i)); 0L })
    stage("parse+meta", { i =>
      val doc = graft.extract.HtmlDom.parse(texts(i))
      graft.extract.MetaExtract.extractMetadata(texts(i), doc)
      0L
    })
    stage("full", { i => graft.extract.ChunkHtml.extract(s"u#$i", texts(i), Some("x")); 0L })
  }
}
