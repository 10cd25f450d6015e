package graft.plans

/** `ASOF [LEFT] JOIN … USING (c)` through the front door. The `ON`
  * form is a Catalyst join (the dialect marks it, plans/AsofJoinRule
  * plans it); the `USING` form is rewritten here to a lateral probe.
  */
object AsofSql {

  /** `<left> la ASOF [LEFT] JOIN <rel> ra[(cols)] USING (c)` — at ANY
    * depth — rewritten LAZILY to a LATERAL top-1 probe:
    *
    *   la [LEFT] JOIN LATERAL (SELECT * FROM <rel> __ab[(cols)]
    *     WHERE __ab.c <= la.c ORDER BY __ab.c DESC LIMIT 1) ra ON true
    *
    * This is the rewrite that composes with CORRELATED subqueries
    * (test_asof_join_subquery corpus): AsofJoinRule's window over a
    * correlated child would not decorrelate, while the lateral form
    * stays a plan fragment. USING's single column is the inequality
    * (backward `>=`, the reference's bind_joinref default); multiplicity
    * matches the ASOF contract (exactly one matched right row; LEFT
    * keeps unmatched left rows NULL-padded). Plain relation or
    * `fn(args)` right sides only — the shapes the corpus uses.
    */
  private val UsingRe =
    ("""(?is)\bASOF\s+(LEFT\s+)?JOIN\s+""" +
      """([A-Za-z_]\w*(?:\s*\((?:[^()]|\([^()]*\))*\))?)""" + // rel / fn(args)
      """\s+(?:AS\s+)?([A-Za-z_]\w*)\s*(\(\s*[\w", ]*\s*\))?""" + // alias[(cols)]
      """\s+USING\s*\(\s*"?([A-Za-z_]\w*)"?\s*\)""").r

  /** Some(rewritten) when the text carries an ASOF…USING join. */
  def usingPass(text: String): Option[String] = {
    val m = SqlText.findInCode(text, UsingRe).getOrElse(return None)
    val left = if (m.group(1) != null) "LEFT " else ""
    val rel = m.group(2)
    val alias = m.group(3)
    val cols = Option(m.group(4)).getOrElse("")
    val c = m.group(5)
    // the left alias: the identifier immediately before ASOF
    val la = "([A-Za-z_]\\w*)\\s*$".r
      .findFirstMatchIn(text.substring(0, m.start))
      .map(_.group(1)).getOrElse(return None)
    val lateral =
      s"${left}JOIN LATERAL (SELECT * FROM $rel __ab$cols " +
        s"WHERE __ab.$c <= $la.$c ORDER BY __ab.$c DESC LIMIT 1) $alias ON true"
    Some(text.substring(0, m.start) + lateral + text.substring(m.end))
  }
}
