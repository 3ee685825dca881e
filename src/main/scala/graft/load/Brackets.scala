package graft.load

/** Bracket matching for the importer grammars that quote with `'`
  * (Graphene, Holistics, Malloy, Rill expressions). */
private[graft] object Brackets {

  /** Index of the `closeCh` matching the `openCh` at `open`, skipping
    * single-quoted spans; -1 when unbalanced. */
  def closing(s: String, open: Int, openCh: Char, closeCh: Char): Int = {
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      val c = s(i)
      if (inStr) { if (c == '\'') inStr = false }
      else if (c == '\'') inStr = true
      else if (c == openCh) depth += 1
      else if (c == closeCh) { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    -1
  }
}
