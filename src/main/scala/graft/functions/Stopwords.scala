package graft.functions

/** Stopword vocabularies shared by the language-ID / quality operators and
  * the native [[HashExpressions.evalTextStats]] (single source of truth so
  * the Spark hot path and the DuckDB oracle literals can't drift). */
object Stopwords {
  /** Languages scored by graft_text_stats, in struct-field order. */
  val scored: Seq[String] = Seq("en", "es", "de", "fr")

  val lists: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "un"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai"))

  private[functions] val sets: Array[java.util.HashSet[String]] =
    scored.map { l =>
      val s = new java.util.HashSet[String]()
      lists(l).foreach(s.add)
      s
    }.toArray
}
