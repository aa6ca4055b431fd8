package graft.extract

import graft.core.{LangId, Span, TextStats}

/** One analyzable text item of a document: a TextBlock's text or a
  * Section/List/Table title. NavigationList titles and TableCell coordinate
  * payloads are NOT analyzed — exactly the switch in
  * `wordslab.nlptextdoc/NLPTextAnalyzer.AnalyzeDocumentElement:103-125`
  * (cases Section, List, Table, TextBlock only).
  */
final case class AnalyzedItem(
    offset: Int,
    text: String,
    text_hash: Long,
    words: Int)

object DocAnalysis {

  private val titledStarts = Set("Section.Start", "List.Start", "Table.Start")

  def analyzableItems(spans: Seq[Span]): Seq[AnalyzedItem] =
    spans.flatMap { s =>
      val isTitle = titledStarts.contains(s.kind) && s.text.nonEmpty
      val isBlock = s.kind == "TextBlock.Text"
      if (isTitle || isBlock) {
        val stats = TextStats.of(s.text)
        Some(AnalyzedItem(s.offset, s.text, TextStats.textHash(s.text), stats.words))
      } else None
    }

  /** Document language = argmax of per-language word sums, first-seen wins
    * ties (C# dictionary Aggregate semantics, `NLPTextAnalyzer.cs:94-97`).
    * Returns "?" when no analyzable items. The only caller of the per-item
    * language detector: the items themselves carry no language, so the
    * uniqueness passes over them never pay for it.
    */
  def docLanguage(items: Seq[AnalyzedItem]): String = {
    if (items.isEmpty) return "?"
    val firstSeen = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    items.foreach(i => firstSeen.updateWith(LangId.detect(i.text)) {
      case Some(w) => Some(w + i.words)
      case None => Some(i.words.toLong)
    })
    firstSeen.maxBy { case (_, w) => w }._1 // LinkedHashMap.maxBy keeps first max
  }
}
