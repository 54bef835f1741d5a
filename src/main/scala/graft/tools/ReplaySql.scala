package graft.tools

/** Shared DuckDB replay-SQL generators for the iterative-algorithm
  * oracles — ONE load-bearing copy each, parameterized by table/column
  * names, consumed by both the query oracles (graft.queries) and the
  * differential fuzz harness (`FuzzDiff` templates), so the two gates
  * can never drift onto different replay semantics.
  *
  * Tokenization note: the word splitter is the EXPLICIT Java `\s` class
  * (`[ \t\n\x0b\f\r]+`), not RE2's `\s` — RE2's class omits `\x0B`
  * (vertical tab), which Java's includes; spelling the class out keeps
  * the oracle byte-for-byte with the engine-wide `split(text, "\\s+")`
  * convention even on VT-bearing input.
  */
object ReplaySql {

  /** The Java-`\s`-class word array of `col`, empties dropped. */
  def words(col: String): String =
    s"""list_filter(string_split_regex($col, '[ \\t\\n\\x0b\\f\\r]+'), fw -> fw <> '')"""

  /** BPE merge-loop replay: `numMerges` generated CTE rounds over the
    * word-frequency table of `table.textCol`. Round r zip-unnests
    * adjacent symbol pairs, takes the argmax under `(count DESC, left,
    * right)` binary collation (== the trainer's code-point tie-break),
    * and applies the merge with a boundary-wrapped `replace`
    * ('|'-wrapped symbols make DuckDB's left-to-right non-overlapping
    * replace identical to the trainer's single in-place pass). Emits
    * (rank, "left", "right"). Assumes no '|' inside corpus words — the
    * `w` CTE GUARDS this with a pointed `error()` so a fixture or fuzz
    * vocab that ever grows a '|' reds the gate with an explanation
    * instead of a confusing hash mismatch.
    */
  def bpeMerges(table: String, textCol: String, numMerges: Int): String = {
    // every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // s_r references s_{r-1} several times, so an inlined chain explodes
    // to ~2^rounds base-table scans — fatal past ~20 rounds (the deep
    // fuzz template runs 50+). Materialization makes the replay linear.
    val rounds = (1 to numMerges).map { r =>
      s"""p$r AS MATERIALIZED (SELECT unnest(list_slice(l, 1, len(l) - 1)) AS a,
         |  unnest(list_slice(l, 2, len(l))) AS b, c
         |  FROM (SELECT string_split(ss, ' ') AS l, c FROM s${r - 1}) q$r),
         |b$r AS MATERIALIZED (SELECT a, b FROM (SELECT a, b, sum(c) AS pc FROM p$r GROUP BY a, b)
         |  ORDER BY pc DESC, a, b LIMIT 1),
         |s$r AS MATERIALIZED (SELECT replace(substr(rep, 2, length(rep) - 2), '||', ' ') AS ss, c
         |  FROM (SELECT replace('|' || replace(s${r - 1}.ss, ' ', '||') || '|',
         |                       '|' || b$r.a || '||' || b$r.b || '|',
         |                       '|' || b$r.a || b$r.b || '|') AS rep, c
         |        FROM s${r - 1} CROSS JOIN b$r) t$r)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to numMerges).map(r =>
      s"""SELECT CAST(${r - 1} AS INTEGER) AS rank, a AS "left", b AS "right" FROM b$r""")
      .mkString("\nUNION ALL ")
    s"""WITH w AS MATERIALIZED (SELECT CASE WHEN contains(tok, '|')
       |    THEN error('bpe replay: corpus word contains the | boundary sentinel; extend ReplaySql.bpeMerges escaping')
       |    ELSE tok END AS word, count(*) AS c
       |  FROM (SELECT unnest(${words(textCol)}) AS tok FROM $table) tt
       |  GROUP BY tok),
       |s0 AS MATERIALIZED (SELECT array_to_string([word[i] for i in range(1, length(word) + 1)], ' ') AS ss, c
       |  FROM w),
       |$rounds
       |$unions""".stripMargin
  }

  /** Greedy k-center replay: round r updates every point's min-distance
    * against round r-1's pick (`least`, exact ascending-index dist2 —
    * the compiled kernel's accumulation order) and takes the `(d DESC,
    * id ASC)` argmax. Emits (rank, vec_id, radius); NULL-id and NULL-
    * vector rows are excluded like the operator does.
    */
  def kCenter(table: String, idCol: String, vecCol: String, k: Int): String = {
    def d2(v: String, c: String): String =
      s"list_sum([($v[i] - $c[i]) * ($v[i] - $c[i]) for i in range(1, len($v) + 1)])"
    val rounds = (1 until k).map { r =>
      val prev = if (r == 1) "m0" else s"m${r - 1}"
      s"""c$r AS (SELECT id, v, d FROM $prev ORDER BY d DESC, id LIMIT 1),
         |m$r AS (SELECT $prev.id, $prev.v, least($prev.d, ${d2(s"$prev.v", s"c$r.v")}) AS d
         |  FROM $prev CROSS JOIN c$r)""".stripMargin
    }.mkString(",\n")
    val unions = (
      "SELECT CAST(0 AS INTEGER) AS rank, c0.id AS vec_id, CAST(NULL AS DOUBLE) AS radius FROM c0" +:
        (1 until k).map(r =>
          s"SELECT CAST($r AS INTEGER) AS rank, c$r.id AS vec_id, round(sqrt(c$r.d), 6) AS radius FROM c$r")
      ).mkString("\nUNION ALL ")
    s"""WITH e AS (SELECT $idCol AS id, list_transform($vecCol, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $table WHERE $vecCol IS NOT NULL AND $idCol IS NOT NULL),
       |c0 AS (SELECT id, v FROM e ORDER BY id LIMIT 1),
       |m0 AS (SELECT e.id, e.v, ${d2("e.v", "c0.v")} AS d FROM e CROSS JOIN c0),
       |$rounds
       |$unions""".stripMargin
  }
}
