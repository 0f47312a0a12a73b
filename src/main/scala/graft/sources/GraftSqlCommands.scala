package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, Literal}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types._

/** The SQL **write** surface of [[SnapshotTable]] — the public
  * Delta-on-Spark parser-extension design (reference behavior:
  * main.py delegates every mutation to BigQuery DML / Firestore
  * writes; here the table format itself serves them): a
  * [[ParserInterface]] wrapper tries a small snapshot-DML grammar
  * first and delegates EVERYTHING else, byte-for-byte, to Spark's own
  * parser. Injected via `SparkSessionExtensions.injectParser`
  * ([[graft.plans.GraftExtensions]]), so a session built with
  * `spark.sql.extensions=graft.plans.GraftExtensions` runs:
  *
  *   - `DELETE FROM t WHERE …`                       → [[SnapshotTable.deleteWhere]]
  *   - `UPDATE t SET a = …, b = … [WHERE …]`         → [[SnapshotTable.updateWhere]]
  *   - `MERGE INTO t USING src ON t.k = src.k
  *      WHEN MATCHED THEN UPDATE SET *
  *      WHEN NOT MATCHED THEN INSERT *`              → [[SnapshotTable.merge]] (key upsert)
  *   - `INSERT INTO t <query>`                       → [[SnapshotTable.append]] (positional)
  *   - `ALTER TABLE t RENAME COLUMN a TO b`          → [[SnapshotTable.renameColumn]]
  *   - `ALTER TABLE t DROP COLUMN a`                 → [[SnapshotTable.dropColumn]]
  *   - `ALTER TABLE t ADD CONSTRAINT n CHECK (…)`    → [[SnapshotTable.addConstraint]]
  *   - `ALTER TABLE t DROP CONSTRAINT n`             → [[SnapshotTable.dropConstraint]]
  *   - `OPTIMIZE t`                                  → [[SnapshotTable.binPackSmall]]
  *   - `OPTIMIZE t ZORDER BY (c1, c2)`               → [[SnapshotTable.compact]] (Z-order)
  *   - `OPTIMIZE t WHERE c BETWEEN lo AND hi`        → [[SnapshotTable.compactWhere]]
  *   - `VACUUM t [RETAIN n VERSIONS] [DRY RUN]`      → [[SnapshotTable.vacuum]]/[[SnapshotTable.vacuumPreview]]
  *   - `RESTORE [TABLE] t [TO] VERSION AS OF n`      → [[SnapshotTable.restore]]
  *   - `DESCRIBE HISTORY t`                          → [[SnapshotTable.history]]
  *   - `DESCRIBE DETAIL t`                           → metadata-only summary row
  *   - `SHOW CONSTRAINTS [ON] t`                     → the recorded CHECK policy
  *   - `ALTER TABLE t ALTER COLUMN c TYPE <wider>`   → [[SnapshotTable.widenColumn]]
  *   - `CREATE TABLE graft.`dst` SHALLOW CLONE t
  *      [VERSION AS OF n]`                           → [[SnapshotTable.shallowClone]]
  *   - `ALTER TABLE t SET TBLPROPERTIES ('k'='v')`   → [[SnapshotTable.setProperties]]
  *   - `ALTER TABLE t UNSET TBLPROPERTIES ('k')`     → [[SnapshotTable.unsetProperties]]
  *   - `SHOW TBLPROPERTIES t`                        → the recorded properties
  *   - `INSERT OVERWRITE t <query>`                  → [[SnapshotTable.overwrite]] (atomic replace)
  *   - `CREATE [OR REPLACE] TABLE graft.`p` AS <q>`  → CTAS into a fresh/replaced table
  *   - `TRUNCATE TABLE t`                            → delete-all (one commit; time travel keeps history)
  *
  * With `graft.enableDeletionVectors` = `true` recorded in the
  * table's properties, DELETE and UPDATE route through the
  * merge-on-read deletion-vector paths instead of copy-on-write —
  * write cost proportional to matched rows; `OPTIMIZE` materializes.
  *
  * **Table addressing**: `graft.`/abs/path`` (the Delta path idiom)
  * or a name bound by [[SnapshotSql.register]] /
  * [[SnapshotSql.registerLive]] / [[SnapshotSql.bind]]. A statement
  * whose table reference resolves to NEITHER delegates to Spark
  * untouched — `DELETE FROM`/`UPDATE`/`MERGE`/`INSERT`/`ALTER` over
  * ordinary tables never enter this grammar, so injecting the parser
  * cannot change the behavior of any non-graft SQL. A statement
  * that DOES address a graft table but uses an unsupported shape
  * fails loudly with the supported grammar in the message (silent
  * delegation there would produce Spark's confusing
  * view-is-not-writable errors).
  *
  * Each statement is a Spark `RunnableCommand`: `spark.sql(…)`
  * executes it eagerly and returns its summary row(s) (committed
  * version, rows deleted, files vacuumed, …) as a regular DataFrame.
  * Expressions (WHERE conditions, SET values, CHECK bodies) are
  * carried as SQL text and resolved by Spark's own analyzer against
  * the table's LOGICAL schema at run time — column mapping, deletion
  * vectors and every other manifest feature apply exactly as through
  * the Scala API, because these commands ARE the Scala API. */
object GraftSqlCommands {

  // ------------------------------------------------------------------
  // Lexical helpers (quote/paren-aware scanning — expression payloads
  // pass through verbatim; only top-level structure is parsed here)
  // ------------------------------------------------------------------

  /** Index of the first TOP-LEVEL (outside quotes/backticks/parens)
    * case-insensitive occurrence of word `kw` in `s`, or -1. */
  private def topLevelKeyword(s: String, kw: String, from: Int = 0): Int = {
    val u = s.toUpperCase(java.util.Locale.ROOT)
    val k = kw.toUpperCase(java.util.Locale.ROOT)
    var i = from; var depth = 0; var caseDepth = 0
    var inS = false; var inD = false; var inB = false
    // a keyword hit at position j — not quoted, not a sub-token of a
    // longer identifier
    def wordAt(j: Int, w: String): Boolean =
      u.startsWith(w, j) &&
        (j == 0 || !Character.isLetterOrDigit(u.charAt(j - 1)) &&
          u.charAt(j - 1) != '_') &&
        (j + w.length == s.length ||
          !Character.isLetterOrDigit(u.charAt(j + w.length)) &&
            u.charAt(j + w.length) != '_')
    while (i < s.length) {
      val c = s.charAt(i)
      // Spark string literals allow backslash escapes ('it\'s') —
      // skip the escaped char or the in-string state would invert.
      if ((inS || inD) && c == '\\') i += 1
      else if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inS = true
        case '"' => inD = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
          // CASE … END nesting: a WHEN/THEN/AND/ELSE inside a bare
          // (unparenthesized) CASE expression is NOT a top-level
          // keyword — this is what lets MERGE clause conditions carry
          // `AND CASE WHEN … THEN … END` without mis-splitting the
          // clause at the CASE's own WHEN/THEN. A stray END at
          // caseDepth 0 (e.g. a window frame's `… AND UNBOUNDED
          // FOLLOWING`… has none; truly stray ENDs are user typos
          // Spark will reject later) never drives the depth negative.
          if (depth == 0 && wordAt(i, "CASE")) { caseDepth += 1; i += 3 }
          else if (depth == 0 && caseDepth > 0 && wordAt(i, "END"))
            { caseDepth -= 1; i += 2 }
          else if (depth == 0 && caseDepth == 0 && wordAt(i, k))
            return i
      }
      i += 1
    }
    -1
  }

  /** Split on top-level commas (SET a = f(x, y), b = z must not split
    * inside the call). */
  private def splitTopCommas(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0; var i = 0; var depth = 0
    var inS = false; var inD = false; var inB = false
    while (i < s.length) {
      val c = s.charAt(i)
      if ((inS || inD) && c == '\\') i += 1
      else if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inS = true
        case '"' => inD = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
        case _ =>
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** A table reference token: `graft.`path``, a backquoted name, or a
    * plain identifier. Returns (directory, matched length) when the
    * reference resolves to a graft table; None otherwise (→ the whole
    * statement delegates to Spark). Bare names resolve against the
    * PARSING session's address book ([[SnapshotSql.boundDir]]) — a
    * session that never bound the name delegates to Spark. */
  private def resolveTableAt(spark: SparkSession,
                             s: String): Option[(String, Int)] = {
    val GraftPath = """(?is)^graft\.`([^`]+)`""".r
    val Quoted = """(?s)^`([^`]+)`""".r
    val Ident = """(?s)^([A-Za-z_][A-Za-z0-9_]*)""".r
    GraftPath.findFirstMatchIn(s)
      .map(m => Some((m.group(1), m.end)))
      .getOrElse {
        val nm = Quoted.findFirstMatchIn(s).map(m => (m.group(1), m.end))
          .orElse(Ident.findFirstMatchIn(s).map(m => (m.group(1), m.end)))
        nm.flatMap { case (name, len) =>
          SnapshotSql.boundDir(spark, name).map(dir => (dir, len)) }
      }
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"graft SQL: $msg")

  /** INSERT/MERGE's implicit-cast discipline honors
    * `spark.sql.storeAssignmentPolicy` (Spark's default: ANSI): an
    * overflowing or malformed value FAILS the statement loudly —
    * exactly native INSERT INTO behavior — instead of silently
    * landing NULL / truncated via the permissive cast. LEGACY
    * restores the permissive cast; STRICT additionally REFUSES any
    * cast that is not a safe up-cast when the source type is known
    * (`from`). Every caller now knows its source types at command
    * time — INSERT from the query schema, MERGE SET/INSERT exprs from
    * the when-chains resolved against the join schema — so STRICT is
    * a command-time refusal everywhere, never a runtime surprise. */
  private[sources] def storeCast(spark: SparkSession,
                                 c: org.apache.spark.sql.Column,
                                 dt: DataType,
                                 from: Option[DataType] = None
                                ): org.apache.spark.sql.Column = {
    val policy = spark.conf.get("spark.sql.storeAssignmentPolicy", "ANSI")
    if (policy.equalsIgnoreCase("STRICT")) from.foreach { f =>
      if (f != dt &&
          !org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f, dt))
        fail(s"cannot safely cast ${f.simpleString} to ${dt.simpleString} " +
          "under spark.sql.storeAssignmentPolicy=STRICT")
    }
    // EvalMode pinned EXPLICITLY both ways: a plain Column.cast keys
    // off spark.sql.ansi.enabled, not the store-assignment policy.
    val mode =
      if (policy.equalsIgnoreCase("LEGACY"))
        org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY
      else org.apache.spark.sql.catalyst.expressions.EvalMode.ANSI
    org.apache.spark.sql.GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.GraftSqlBridge.expression(c), dt, None, mode))
  }

  /** `'key'` / `"key"` / bare dotted identifier → key text. */
  private def unquotePropToken(t0: String): String = {
    val t = t0.trim
    if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') ||
        (t.head == '"' && t.last == '"')))
      t.substring(1, t.length - 1)
    else if (t.matches("""[A-Za-z_][A-Za-z0-9_.]*""")) t
    else fail(s"TBLPROPERTIES: expected a quoted key or identifier, got: $t")
  }

  /** One `'k' = 'v'` pair of a SET TBLPROPERTIES list. */
  private def parsePropPair(t: String): (String, String) = {
    val eq = t.indexOf('=')
    if (eq <= 0) fail(s"SET TBLPROPERTIES expects 'k' = 'v' pairs, got: $t")
    (unquotePropToken(t.substring(0, eq)),
      unquotePropToken(t.substring(eq + 1)))
  }

  /** Evaluate an expression TEXT that must be a literal (OPTIMIZE's
    * BETWEEN bounds, RESTORE's version) to its Scala value. */
  private def literalValue(text: String): Any =
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(text) match {
      case l: Literal =>
        CatalystTypeConverters.convertToScala(l.value, l.dataType)
      case other => fail(s"expected a literal, got: $text")
    }

  // ------------------------------------------------------------------
  // The grammar — None = not ours, delegate to Spark's parser
  // ------------------------------------------------------------------

  def tryParse(spark: SparkSession, sqlText: String): Option[LogicalPlan] = {
    val s0 = sqlText.trim
    val s = if (s0.endsWith(";")) s0.dropRight(1).trim else s0
    val head = s.takeWhile(c => Character.isLetter(c))
      .toUpperCase(java.util.Locale.ROOT)
    head match {
      case "DELETE" => parseDelete(spark, s)
      case "UPDATE" => parseUpdate(spark, s)
      case "MERGE" => parseMerge(spark, s)
      case "INSERT" => parseInsert(spark, s)
      case "ALTER" => parseAlter(spark, s)
      case "OPTIMIZE" => parseOptimize(spark, s)
      case "VACUUM" => parseVacuum(spark, s)
      case "RESTORE" => parseRestore(spark, s)
      case "DESCRIBE" | "DESC" =>
        parseDescribeHistory(spark, s).orElse(parseDescribeDetail(spark, s))
      case "SHOW" =>
        parseShowConstraints(spark, s).orElse(parseShowProps(spark, s))
      case "CREATE" => parseCreate(spark, s)
      case "TRUNCATE" => parseTruncate(spark, s)
      case _ => None
    }
  }

  private val Ws = """\s+"""

  private def parseDelete(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^DELETE${Ws}FROM$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    val where =
      if (tail.isEmpty) None
      else {
        val w = s"""(?is)^WHERE$Ws""".r.findFirstMatchIn(tail)
          .getOrElse(fail(s"DELETE FROM <t> [WHERE <cond>] — got: $tail"))
        Some(tail.substring(w.end).trim)
      }
    Some(GraftDeleteCommand(dir, where))
  }

  private def parseUpdate(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^UPDATE$Ws""".r.findFirstMatchIn(s).getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    val setM = s"""(?is)^SET$Ws""".r.findFirstMatchIn(tail)
      .getOrElse(fail(s"UPDATE <t> SET a = …[, b = …] [WHERE <cond>] — got: $tail"))
    val body = tail.substring(setM.end)
    val wIdx = topLevelKeyword(body, "WHERE")
    val (setText, where) =
      if (wIdx < 0) (body, None)
      else (body.substring(0, wIdx),
        Some(body.substring(wIdx + "WHERE".length).trim))
    val sets = splitTopCommas(setText).map { a =>
      val eq = a.indexOf('=')
      if (eq <= 0) fail(s"UPDATE SET expects <col> = <expr>, got: $a")
      val c = a.substring(0, eq).trim
      val name = if (c.startsWith("`") && c.endsWith("`") && c.length > 1)
        c.substring(1, c.length - 1) else c
      (name, a.substring(eq + 1).trim)
    }
    if (sets.isEmpty) fail("UPDATE SET list is empty")
    Some(GraftUpdateCommand(dir, sets, where))
  }

  private def parseMerge(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^MERGE${Ws}INTO$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    var tail = rest.substring(len).trim
    // optional [AS] <alias> on the target (captured: clause
    // expressions reference it)
    val aliasM = s"""(?is)^(?:AS$Ws)?([A-Za-z_][A-Za-z0-9_]*)$Ws""".r
      .findFirstMatchIn(tail)
      .filter(a => !Set("USING").contains(
        a.group(1).toUpperCase(java.util.Locale.ROOT)))
    val tAlias = aliasM.map(_.group(1))
    aliasM.foreach(a => tail = tail.substring(a.end).trim)
    val usingM = s"""(?is)^USING$Ws""".r.findFirstMatchIn(tail)
      .getOrElse(fail(s"MERGE INTO <t> USING <src> ON … — got: $tail"))
    tail = tail.substring(usingM.end).trim
    // source: (subquery) or identifier; optional [AS] alias
    val (source, afterSrc) =
      if (tail.startsWith("(")) {
        var depth = 0; var i = 0; var end = -1
        while (i < tail.length && end < 0) {
          val c = tail.charAt(i)
          if (c == '(') depth += 1
          else if (c == ')') { depth -= 1; if (depth == 0) end = i }
          i += 1
        }
        if (end < 0) fail("MERGE USING (…): unbalanced parentheses")
        (Left(tail.substring(1, end).trim): Either[String, String],
          tail.substring(end + 1).trim)
      } else {
        val im = """(?s)^([A-Za-z_][A-Za-z0-9_]*)""".r
          .findFirstMatchIn(tail)
          .getOrElse(fail(s"MERGE USING expects a view name or (subquery), got: $tail"))
        (Right(im.group(1)): Either[String, String],
          tail.substring(im.end).trim)
      }
    var t2 = afterSrc
    val srcAliasM = s"""(?is)^(?:AS$Ws)?([A-Za-z_][A-Za-z0-9_]*)$Ws""".r
      .findFirstMatchIn(t2)
      .filter(a => !Set("ON").contains(
        a.group(1).toUpperCase(java.util.Locale.ROOT)))
    val sAlias = srcAliasM.map(_.group(1))
    srcAliasM.foreach(a => t2 = t2.substring(a.end).trim)
    val onM = s"""(?is)^ON$Ws""".r.findFirstMatchIn(t2)
      .getOrElse(fail(s"MERGE: expected ON <key equalities>, got: $t2"))
    t2 = t2.substring(onM.end)
    // Clause boundaries: top-level WHEN followed by MATCHED / NOT
    // MATCHED. The scanner is CASE-aware (topLevelKeyword skips
    // CASE…END interiors), so bare `CASE WHEN … THEN … END`
    // expressions inside clause conditions and assignments never
    // mis-split a clause.
    val ClauseHead = s"""(?is)^WHEN$Ws(?:MATCHED|NOT${Ws}MATCHED)\\b""".r
    def whenBoundaries(t: String): Seq[Int] = {
      val out = Seq.newBuilder[Int]
      var from = 0
      var i = topLevelKeyword(t, "WHEN", from)
      while (i >= 0) {
        if (ClauseHead.findFirstIn(t.substring(i)).isDefined) out += i
        from = i + 4
        i = topLevelKeyword(t, "WHEN", from)
      }
      out.result()
    }
    val bounds = whenBoundaries(t2)
    if (bounds.isEmpty)
      fail("MERGE: expected WHEN MATCHED / WHEN NOT MATCHED clauses")
    val onText = t2.substring(0, bounds.head).trim
    val clauseTexts = bounds.zipAll(bounds.tail, -1, t2.length)
      .map { case (a, b) => t2.substring(a, b).trim }
    // ON must be a conjunction of key EQUALITIES (the equi-key
    // contract both merge kernels share — general join conditions
    // would defeat the touched-file semi-join that makes a small
    // MERGE cheap at 100 TB). Differing column names are allowed when
    // the sides are disambiguated by the aliases (t.id = s.src_id).
    val keyPairs: Seq[(String, String)] = {
      def split(t: String, acc: Seq[String]): Seq[String] = {
        val i = topLevelKeyword(t, "AND")
        if (i < 0) acc :+ t.trim
        else split(t.substring(i + 3), acc :+ t.substring(0, i).trim)
      }
      split(onText, Nil).map { eqText =>
        val parts = eqText.split("=")
        if (parts.length != 2)
          fail(s"MERGE ON expects <t.k> = <s.k> equalities, got: $eqText")
        def side(p: String): (Option[String], String) = {
          val c = p.trim
          val dot = c.lastIndexOf('.')
          val qual = if (dot < 0) None
            else Some(unqIdent(c.substring(0, dot)))
          (qual, unqIdent(c.substring(dot + 1)))
        }
        val (ql, nl) = side(parts(0))
        val (qr, nr) = side(parts(1))
        // SQL identifiers are case-insensitive — so is the alias match
        def isT(q: Option[String]) =
          q.exists(x => tAlias.exists(_.equalsIgnoreCase(x)))
        def isS(q: Option[String]) =
          q.exists(x => sAlias.exists(_.equalsIgnoreCase(x)))
        // both sides on ONE alias is a typo (ON t.id = t.sid would
        // otherwise silently pair the wrong columns), not a pairing
        if ((isT(ql) && isT(qr)) || (isS(ql) && isS(qr))) fail(
          s"MERGE ON: both sides reference the same alias: $eqText")
        if (isT(ql) || isS(qr)) (nl, nr)
        else if (isT(qr) || isS(ql)) (nr, nl)
        else if (nl == nr) (nl, nr)
        else fail("MERGE ON: qualify differing key names with the " +
          s"target/source aliases so the sides are unambiguous: $eqText")
      }
    }
    val keys = keyPairs.map(_._1)
    val srcKeyNames = keyPairs.map(_._2)
    import SnapshotTable.{MergeAction, MergeClause}
    // One clause: kind prefix, optional AND <cond> up to the first
    // top-level THEN, then the action.
    val MatchedHead = s"""(?is)^WHEN${Ws}MATCHED\\b\\s*""".r
    val BySourceHead =
      s"""(?is)^WHEN${Ws}NOT${Ws}MATCHED${Ws}BY${Ws}SOURCE\\b\\s*""".r
    val ByTargetHead =
      s"""(?is)^WHEN${Ws}NOT${Ws}MATCHED\\b(?:${Ws}BY${Ws}TARGET\\b)?\\s*""".r
    val UpdateAllA = s"""(?is)^UPDATE${Ws}SET\\s*\\*$$""".r
    val UpdateA = s"""(?is)^UPDATE${Ws}SET$Ws""".r
    val DeleteA = """(?is)^DELETE$""".r
    val InsertAllA = s"""(?is)^INSERT\\s*\\*$$""".r
    val InsertA = """(?is)^INSERT\s*\(""".r
    def parseAssigns(text: String): Seq[(String, String)] =
      splitTopCommas(text).map { a =>
        val eq = a.indexOf('=')
        if (eq <= 0) fail(s"MERGE SET expects <col> = <expr>, got: $a")
        (unqIdent(a.substring(0, eq)), a.substring(eq + 1).trim)
      }
    def parseAction(a0: String, insertSide: Boolean): MergeAction = {
      val a = a0.trim
      if (insertSide) {
        if (InsertAllA.findFirstIn(a).isDefined) MergeAction.InsertAll
        else if (InsertA.findFirstIn(a).isDefined) {
          val (colsTxt, rest) = balancedParen(a)
          val vm = s"""(?is)^VALUES\\s*\\(""".r.findFirstMatchIn(rest)
            .getOrElse(fail(
              s"MERGE INSERT expects (cols) VALUES (exprs), got: $a"))
          val (valsTxt, tail) = balancedParen(rest)
          if (tail.nonEmpty) fail(
            s"MERGE INSERT: unexpected trailing text: $tail")
          val cols = splitTopCommas(colsTxt).map(unqIdent)
          val vals = splitTopCommas(valsTxt)
          if (cols.length != vals.length) fail(
            s"MERGE INSERT: ${cols.length} columns but ${vals.length} values")
          MergeAction.Insert(cols.zip(vals))
        } else fail("WHEN NOT MATCHED THEN supports INSERT * | " +
          s"INSERT (cols) VALUES (exprs) — got: $a")
      } else {
        if (UpdateAllA.findFirstIn(a).isDefined) MergeAction.UpdateAll
        else if (DeleteA.findFirstIn(a).isDefined) MergeAction.Delete
        else UpdateA.findFirstMatchIn(a) match {
          case Some(um) =>
            MergeAction.Update(parseAssigns(a.substring(um.end)))
          case None => fail("WHEN [NOT] MATCHED [BY SOURCE] THEN supports " +
            s"UPDATE SET * | UPDATE SET a = e, … | DELETE — got: $a")
        }
      }
    }
    var matchedCs = Seq.empty[MergeClause]
    var notMatchedCs = Seq.empty[MergeClause]
    var bySourceCs = Seq.empty[MergeClause]
    clauseTexts.foreach { ct =>
      val (kind, rest) = MatchedHead.findFirstMatchIn(ct)
        .map(m => ("m", ct.substring(m.end)))
        .orElse(BySourceHead.findFirstMatchIn(ct)
          .map(m => ("nms", ct.substring(m.end))))
        .orElse(ByTargetHead.findFirstMatchIn(ct)
          .map(m => ("nm", ct.substring(m.end))))
        .getOrElse(fail(s"MERGE: unrecognized clause: $ct"))
      val thenIdx = topLevelKeyword(rest, "THEN")
      if (thenIdx < 0) fail(s"MERGE clause missing THEN: $ct")
      val before = rest.substring(0, thenIdx).trim
      val action = rest.substring(thenIdx + "THEN".length).trim
      val cond =
        if (before.isEmpty) None
        else {
          val am = s"""(?is)^AND$Ws""".r.findFirstMatchIn(before)
            .getOrElse(fail(
              s"MERGE clause: expected [AND <condition>] THEN, got: $before"))
          Some(before.substring(am.end).trim)
        }
      val clause = MergeClause(cond, parseAction(action, kind == "nm"))
      kind match {
        case "m" => matchedCs :+= clause
        case "nms" => bySourceCs :+= clause
        case "nm" => notMatchedCs :+= clause
      }
    }
    // The classic whole-row upsert keeps its dedicated kernel (it is
    // also the add-column schema-evolution path).
    // The classic whole-row upsert with SAME-NAME keys keeps its
    // dedicated (evolution-capable) kernel; differing key names route
    // through the generalized kernel's key-pairing.
    val wholeRow = bySourceCs.isEmpty && keys == srcKeyNames &&
      matchedCs == Seq(MergeClause(None, MergeAction.UpdateAll)) &&
      notMatchedCs == Seq(MergeClause(None, MergeAction.InsertAll))
    if (wholeRow) Some(GraftMergeCommand(dir, source, keys))
    else Some(GraftMergeIntoCommand(dir, source, keys,
      tAlias.getOrElse("__t"), sAlias.getOrElse("__s"),
      matchedCs, notMatchedCs, bySourceCs,
      srcKeys = srcKeyNames))
  }

  private def parseInsert(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^INSERT$Ws(INTO|OVERWRITE)$Ws(?:TABLE$Ws)?""".r
      .findFirstMatchIn(s).getOrElse(return None)
    val overwrite = m.group(1).equalsIgnoreCase("OVERWRITE")
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val query = rest.substring(len).trim
    if (query.isEmpty) fail(
      "INSERT INTO|OVERWRITE <t> <query> — missing query")
    Some(GraftInsertCommand(dir, query, overwrite))
  }

  /** The quote-aware balanced-paren slice shared by the MERGE INSERT
    * grammar and the CREATE TABLE column list: (contents of the first
    * top-level (…) group, text after it). Parens inside '…'/"…"/`…`
    * (e.g. a COMMENT literal) never count. */
  private def balancedParen(t: String): (String, String) = {
    var depth = 0; var i = 0; var end = -1
    var inS = false; var inD = false; var inB = false
    while (i < t.length && end < 0) {
      val c = t.charAt(i)
      if ((inS || inD) && c == '\\') i += 1
      else if (inS) { if (c == '\'') inS = false }
      else if (inD) { if (c == '"') inD = false }
      else if (inB) { if (c == '`') inB = false }
      else c match {
        case '\'' => inS = true
        case '"' => inD = true
        case '`' => inB = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) end = i
        case _ =>
      }
      i += 1
    }
    if (end < 0) fail(s"unbalanced parentheses in: $t")
    (t.substring(t.indexOf('(') + 1, end), t.substring(end + 1).trim)
  }

  /** Backquote-stripped identifier. */
  private def unqIdent(c0: String): String = {
    val c = c0.trim
    if (c.startsWith("`") && c.endsWith("`") && c.length > 1)
      c.substring(1, c.length - 1) else c
  }

  /** The one CREATE entry point. The grammar claims ONLY statements
    * whose DESTINATION is a `graft.`path`` reference — every other
    * CREATE TABLE (including ones that merely contain the word
    * SHALLOW as a column or table name) delegates to Spark untouched,
    * preserving the file-wide delegation guarantee. Forms:
    *
    *   CREATE TABLE graft.`p` SHALLOW CLONE <src> [VERSION AS OF n]
    *   CREATE [OR REPLACE] TABLE graft.`p` AS <query>
    *   CREATE TABLE graft.`p` PARTITIONED BY (c1, …) AS <query>
    *   CREATE TABLE graft.`p` CLUSTERED BY (c1, …) [SORTED BY (s1, …)]
    *     INTO n BUCKETS AS <query>
    *
    * Layout clauses route to [[SnapshotTable.appendPartitioned]] /
    * [[SnapshotTable.appendBucketed]], so a SQL-created table carries
    * the same manifest partition stats / bucket claim (and the same
    * pruning / zero-Exchange join plans) as the API path. Layouts
    * need a FRESH directory (OR REPLACE would have to re-layout the
    * replacement atomically — unsupported, fail loudly). */
  private def parseCreate(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m =
      s"""(?is)^CREATE$Ws(?:(OR${Ws}REPLACE)$Ws)?TABLE${Ws}graft\\.`([^`]+)`""".r
        .findFirstMatchIn(s).getOrElse(return None)
    val replace = m.group(1) != null
    val dst = m.group(2)
    var tail = s.substring(m.end).trim
    val sc = s"""(?is)^SHALLOW${Ws}CLONE$Ws""".r.findFirstMatchIn(tail)
    if (sc.isDefined) {
      if (replace) fail("CREATE OR REPLACE … SHALLOW CLONE is not " +
        "supported — clone into a fresh directory")
      tail = tail.substring(sc.get.end)
      val (src, len) = resolveTableAt(spark, tail).getOrElse(
        fail(s"SHALLOW CLONE: unknown source table: ${tail.trim}"))
      val after = tail.substring(len).trim
      val V = s"""(?is)^VERSION${Ws}AS${Ws}OF$Ws(\\d+)$$""".r
      val version = after match {
        case "" => None
        case V(n) => Some(n.toLong)
        case other => fail(
          s"SHALLOW CLONE: expected [VERSION AS OF n], got: $other")
      }
      return Some(GraftCloneCommand(src, dst, version))
    }
    // explicit-schema DDL: CREATE TABLE graft.`p` (id BIGINT, …) —
    // an EMPTY v0 manifest recording the schema, no data files
    if (tail.startsWith("(")) {
      if (replace) fail(
        "CREATE OR REPLACE with an explicit schema is not supported — " +
          "use CREATE OR REPLACE TABLE … AS <query>")
      // quote-aware scan: parens inside COMMENT literals never count
      val (cols, after) = balancedParen(tail)
      if (after.nonEmpty) fail(
        s"CREATE TABLE graft.`…` (cols) takes no further clauses — got: $after")
      return Some(GraftCreateEmptyCommand(dst, cols))
    }
    val P = s"""(?is)^PARTITIONED${Ws}BY\\s*\\(([^)]*)\\)\\s*""".r
    val C =
      s"""(?is)^CLUSTERED${Ws}BY\\s*\\(([^)]*)\\)\\s*(?:SORTED${Ws}BY\\s*\\(([^)]*)\\)\\s*)?INTO$Ws(\\d+)${Ws}BUCKETS\\s*""".r
    var partitionBy: Seq[String] = Nil
    var bucket: Option[(Seq[String], Seq[String], Int)] = None
    P.findFirstMatchIn(tail).foreach { pm =>
      partitionBy = splitTopCommas(pm.group(1)).map(unqIdent)
      tail = tail.substring(pm.end).trim
    }
    if (partitionBy.isEmpty) C.findFirstMatchIn(tail).foreach { cm =>
      bucket = Some((splitTopCommas(cm.group(1)).map(unqIdent),
        Option(cm.group(2)).map(g => splitTopCommas(g).map(unqIdent))
          .getOrElse(Nil),
        cm.group(3).toInt))
      tail = tail.substring(cm.end).trim
    }
    if (replace && (partitionBy.nonEmpty || bucket.nonEmpty)) fail(
      "CREATE OR REPLACE with a PARTITIONED BY / CLUSTERED BY clause is " +
        "not supported — layouts need a fresh directory")
    val asM = s"""(?is)^AS$Ws""".r.findFirstMatchIn(tail).getOrElse(fail(
      "CREATE [OR REPLACE] TABLE graft.`path` supports: AS <query> | " +
        "PARTITIONED BY (…) AS <query> | CLUSTERED BY (…) [SORTED BY (…)] " +
        "INTO n BUCKETS AS <query> | SHALLOW CLONE <src> [VERSION AS OF n]" +
        s" — got: $tail"))
    val query = tail.substring(asM.end).trim
    if (query.isEmpty) fail("CREATE TABLE graft.`…` AS <query> — missing query")
    Some(GraftCtasCommand(dst, query, replace, partitionBy, bucket))
  }

  private def parseTruncate(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^TRUNCATE${Ws}TABLE$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"TRUNCATE TABLE <t> takes no further clauses — got: $tail")
    Some(GraftDeleteCommand(dir, None))
  }

  private def parseAlter(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^ALTER${Ws}TABLE$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    val Rename =
      s"""(?is)^RENAME${Ws}COLUMN$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)${Ws}TO$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$$""".r
    val AddCol =
      s"""(?is)^ADD${Ws}COLUMN$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$Ws(.+)$$""".r
    val DropCol =
      s"""(?is)^DROP${Ws}COLUMN$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)$$""".r
    val AddCons =
      s"""(?is)^ADD${Ws}CONSTRAINT$Ws([A-Za-z_][A-Za-z0-9_]*)${Ws}CHECK\\s*\\((.*)\\)$$""".r
    val DropCons =
      s"""(?is)^DROP${Ws}CONSTRAINT$Ws([A-Za-z_][A-Za-z0-9_]*)$$""".r
    val Widen =
      s"""(?is)^ALTER${Ws}COLUMN$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)${Ws}TYPE$Ws(.+)$$""".r
    val SetProps =
      s"""(?is)^SET${Ws}TBLPROPERTIES\\s*\\((.*)\\)$$""".r
    val UnsetProps =
      s"""(?is)^UNSET${Ws}TBLPROPERTIES\\s*(?:IF${Ws}EXISTS\\s*)?\\((.*)\\)$$""".r
    def unq(c: String) =
      if (c.startsWith("`") && c.endsWith("`") && c.length > 1)
        c.substring(1, c.length - 1) else c
    tail match {
      case Rename(from, to) =>
        Some(GraftAlterCommand(dir, "renameColumn", Seq(unq(from), unq(to))))
      case AddCol(c, dt0) =>
        // optional trailing DEFAULT <literal> (initial default,
        // served for pre-ADD files): split on the LAST top-level
        // DEFAULT keyword so a type can never swallow it
        val dt = dt0.trim
        val dIdx = topLevelKeyword(dt, "DEFAULT")
        if (dIdx < 0)
          Some(GraftAlterCommand(dir, "addColumn", Seq(unq(c), dt)))
        else {
          val tpe = dt.substring(0, dIdx).trim
          val dv = literalValue(dt.substring(dIdx + "DEFAULT".length).trim)
          if (dv == null) fail("ADD COLUMN ... DEFAULT NULL is the " +
            "plain nullable ADD — drop the DEFAULT clause")
          Some(GraftAlterCommand(dir, "addColumnDefault",
            Seq(unq(c), tpe, dv.toString)))
        }
      case DropCol(c) =>
        Some(GraftAlterCommand(dir, "dropColumn", Seq(unq(c))))
      case AddCons(nm, body) =>
        Some(GraftAlterCommand(dir, "addConstraint", Seq(nm, body.trim)))
      case DropCons(nm) =>
        Some(GraftAlterCommand(dir, "dropConstraint", Seq(nm)))
      case Widen(c, dt) =>
        Some(GraftAlterCommand(dir, "widenColumn", Seq(unq(c), dt.trim)))
      case SetProps(body) =>
        val kvs = splitTopCommas(body).map(parsePropPair)
        if (kvs.isEmpty) fail("SET TBLPROPERTIES: empty property list")
        Some(GraftPropsCommand(dir, kvs.toMap, unset = Nil))
      case UnsetProps(body) =>
        val keys = splitTopCommas(body).map(unquotePropToken)
        if (keys.isEmpty) fail("UNSET TBLPROPERTIES: empty key list")
        Some(GraftPropsCommand(dir, Map.empty, unset = keys))
      case _ => fail(
        "ALTER TABLE <t> supports ADD COLUMN c <type> [DEFAULT lit] | " +
          "RENAME COLUMN a TO b | DROP COLUMN a | " +
          "ALTER COLUMN c TYPE <wider> | " +
          "ADD CONSTRAINT n CHECK (…) | DROP CONSTRAINT n | " +
          "SET TBLPROPERTIES ('k'='v', …) | " +
          s"UNSET TBLPROPERTIES ('k', …) — got: $tail")
    }
  }

  private def parseOptimize(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^OPTIMIZE$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.isEmpty) return Some(GraftOptimizeCommand(dir, None, Nil))
    val Z = s"""(?is)^ZORDER${Ws}BY\\s*\\(([^)]*)\\)$$""".r
    val W =
      s"""(?is)^WHERE$Ws(`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)${Ws}BETWEEN$Ws(.+?)${Ws}AND$Ws(.+)$$""".r
    tail match {
      case Z(cols) =>
        val cs = splitTopCommas(cols).map(c =>
          if (c.startsWith("`") && c.endsWith("`") && c.length > 1)
            c.substring(1, c.length - 1) else c)
        if (cs.isEmpty) fail("OPTIMIZE ZORDER BY (…) needs at least one column")
        Some(GraftOptimizeCommand(dir, None, cs))
      case W(c, lo, hi) =>
        val cn = if (c.startsWith("`") && c.endsWith("`") && c.length > 1)
          c.substring(1, c.length - 1) else c
        Some(GraftOptimizeCommand(dir, Some((cn, lo.trim, hi.trim)), Nil))
      case _ => fail("OPTIMIZE <t> [ZORDER BY (c1, c2)] | " +
        s"[WHERE <col> BETWEEN <lit> AND <lit>] — got: $tail")
    }
  }

  private def parseVacuum(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^VACUUM$Ws""".r.findFirstMatchIn(s).getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    var tail = rest.substring(len).trim
    var keep = 2
    var hours: Option[Long] = None
    val R = s"""(?is)^RETAIN$Ws(\\d+)$Ws(VERSIONS|HOURS)\\s*""".r
    R.findFirstMatchIn(tail).foreach { rm =>
      if (rm.group(2).equalsIgnoreCase("HOURS"))
        hours = Some(rm.group(1).toLong)
      else keep = rm.group(1).toInt
      tail = tail.substring(rm.end).trim
    }
    val dry = s"""(?is)^DRY${Ws}RUN$$""".r.findFirstIn(tail).isDefined
    if (!dry && tail.nonEmpty)
      fail(s"VACUUM <t> [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]" +
        s" — got: $tail")
    Some(GraftVacuumCommand(dir, keep, dry, hours))
  }

  private def parseRestore(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val M =
      s"""(?is)^RESTORE$Ws(?:TABLE$Ws)?""".r.findFirstMatchIn(s)
        .getOrElse(return None)
    val rest = s.substring(M.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    val V = s"""(?is)^(?:TO$Ws)?VERSION${Ws}AS${Ws}OF$Ws(\\d+)$$""".r
    val T =
      s"""(?is)^(?:TO$Ws)?TIMESTAMP${Ws}AS${Ws}OF$Ws'([^']+)'$$""".r
    tail match {
      case V(v) => Some(GraftRestoreCommand(dir, Some(v.toLong), None))
      case T(ts) => Some(GraftRestoreCommand(dir, None, Some(ts)))
      case _ => fail("RESTORE [TABLE] <t> [TO] VERSION AS OF <n> | " +
        s"TIMESTAMP AS OF '<ts>' — got: $tail")
    }
  }

  private def parseDescribeHistory(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^DESC(?:RIBE)?${Ws}HISTORY$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"DESCRIBE HISTORY <t> takes no further clauses — got: $tail")
    Some(GraftHistoryCommand(dir))
  }

  private def parseDescribeDetail(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^DESC(?:RIBE)?${Ws}DETAIL$Ws""".r.findFirstMatchIn(s)
      .getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"DESCRIBE DETAIL <t> takes no further clauses — got: $tail")
    Some(GraftDetailCommand(dir))
  }

  private def parseShowConstraints(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^SHOW${Ws}CONSTRAINTS$Ws(?:ON$Ws)?""".r
      .findFirstMatchIn(s).getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"SHOW CONSTRAINTS [ON] <t> takes no further clauses — got: $tail")
    Some(GraftShowConstraintsCommand(dir))
  }

  private def parseShowProps(spark: SparkSession, s: String): Option[LogicalPlan] = {
    val m = s"""(?is)^SHOW${Ws}TBLPROPERTIES$Ws""".r
      .findFirstMatchIn(s).getOrElse(return None)
    val rest = s.substring(m.end)
    val (dir, len) = resolveTableAt(spark, rest).getOrElse(return None)
    val tail = rest.substring(len).trim
    if (tail.nonEmpty) fail(
      s"SHOW TBLPROPERTIES <t> takes no further clauses — got: $tail")
    Some(GraftShowPropsCommand(dir))
  }

  // ------------------------------------------------------------------
  // Commands (each is the corresponding SnapshotTable call)
  // ------------------------------------------------------------------

  private def longAttr(n: String, nullable: Boolean = false): Attribute =
    AttributeReference(n, LongType, nullable)()

  /** `DELETE FROM` → CoW [[SnapshotTable.deleteWhere]]. `rows_deleted`
    * comes from the metadata-only [[SnapshotTable.countRows]] fold
    * (exact, no scan). */
  case class GraftDeleteCommand(dir: String, where: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version", nullable = true), longAttr("rows_deleted"))
    override def run(spark: SparkSession): Seq[Row] = {
      val pre = SnapshotTable.countRows(spark, dir)
      val cond = where.map(expr).getOrElse(lit(true))
      // graft.enableDeletionVectors routes through merge-on-read —
      // write cost ∝ matched rows; compact materializes later
      val v = if (morEnabled(spark, dir))
        SnapshotTable.deleteWhereMor(spark, dir, cond)
      else SnapshotTable.deleteWhere(spark, dir, cond)
      val post = SnapshotTable.countRows(spark, dir)
      Seq(Row(v.map(Long.box).orNull, pre - post))
    }
  }

  /** `UPDATE` → CoW [[SnapshotTable.updateWhere]] (SET expressions
    * all see the PRE-update row, SQL semantics). */
  case class GraftUpdateCommand(dir: String, sets: Seq[(String, String)],
                                where: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val cond = where.map(expr).getOrElse(lit(true))
      val assigns = sets.map { case (c, e) => c -> expr(e) }
      val v = if (morEnabled(spark, dir))
        SnapshotTable.updateWhereMor(spark, dir, cond, assigns)
      else SnapshotTable.updateWhere(spark, dir, cond, assigns)
      Seq(Row(v.map(Long.box).orNull))
    }
  }

  /** `MERGE INTO … WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED
    * THEN INSERT *` → the whole-row key upsert, [[SnapshotTable.merge]].
    * The source resolves at run time: a registered view name or an
    * inline subquery. */
  case class GraftMergeCommand(dir: String, source: Either[String, String],
                               keys: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val src0 = source.fold(spark.sql, spark.table)
      // SQL MERGE's implicit-cast contract: source columns that the
      // table also has cast to the table's types BY NAME (an INT
      // subquery literal merges into a BIGINT column), under the
      // session's storeAssignmentPolicy (ANSI default: overflow /
      // malformed values fail loudly); source-only columns pass
      // through for add-column evolution.
      val src = SnapshotTable.headSnapshot(spark, dir)
        .flatMap(_.state.schema) match {
        case Some(schema) =>
          val types = schema.fields.map(f => f.name -> f.dataType).toMap
          src0.select(src0.columns.map(c =>
            types.get(c).map(t => storeCast(spark, col(c), t,
                from = Some(src0.schema(c).dataType)).as(c))
              .getOrElse(col(c))).toSeq: _*)
        case None => src0
      }
      Seq(Row(SnapshotTable.merge(spark, dir, src, keys)))
    }
  }

  /** The generalized MERGE — conditional multi-clause grammar routed
    * to [[SnapshotTable.mergeInto]] (the whole-row `UPDATE SET * /
    * INSERT *` pair keeps [[GraftMergeCommand]]'s kernel). */
  case class GraftMergeIntoCommand(dir: String,
                                   source: Either[String, String],
                                   keys: Seq[String],
                                   tAlias: String, sAlias: String,
                                   matched: Seq[SnapshotTable.MergeClause],
                                   notMatched: Seq[SnapshotTable.MergeClause],
                                   bySource: Seq[SnapshotTable.MergeClause],
                                   srcKeys: Seq[String] = Nil)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val src = source.fold(spark.sql, spark.table)
      Seq(Row(SnapshotTable.mergeInto(spark, dir, src, keys,
        matched, notMatched, bySource, tAlias, sAlias,
        sourceKeys = srcKeys)
        .map(Long.box).orNull))
    }
  }

  /** `INSERT INTO|OVERWRITE t <query>` → [[SnapshotTable.append]] /
    * the atomic [[SnapshotTable.overwrite]] REPLACE. SQL INSERT is
    * POSITIONAL: when the table has a recorded schema the query's
    * columns are renamed (and cast, INSERT's implicit-cast contract)
    * to it by position, arity-checked. A first write into an empty
    * directory lands the query's own shape. */
  case class GraftInsertCommand(dir: String, query: String,
                                overwrite: Boolean = false)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val q = spark.sql(query)
      val aligned = SnapshotTable.headSnapshot(spark, dir)
        .flatMap(_.state.schema) match {
        case Some(schema) =>
          if (q.schema.length != schema.length)
            fail(s"INSERT: query has ${q.schema.length} columns, " +
              s"table has ${schema.length}")
          // strictly positional (toDF renames by position — selecting
          // by the query's own names would break on duplicate aliases);
          // casts follow storeAssignmentPolicy (ANSI default — a
          // mis-ordered or mistyped INSERT fails loudly, like Spark's
          // own INSERT INTO, instead of silently nulling a column)
          q.toDF(schema.fieldNames.toIndexedSeq: _*)
            .select(schema.fields.zipWithIndex.map { case (f, i) =>
              storeCast(spark, col(f.name), f.dataType,
                from = Some(q.schema(i).dataType)).as(f.name)
            }.toSeq: _*)
        case None => q
      }
      Seq(Row(
        if (overwrite) SnapshotTable.overwrite(aligned, dir)
        else SnapshotTable.append(aligned, dir)))
    }
  }

  /** `CREATE [OR REPLACE] TABLE graft.`path` [layout] AS <query>` —
    * CTAS, optionally routed through the partitioned / bucketed
    * writers so the SQL-created table plans with the same pruning /
    * zero-Exchange properties as the API path. */
  case class GraftCtasCommand(dir: String, query: String, replace: Boolean,
                              partitionBy: Seq[String] = Nil,
                              bucket: Option[(Seq[String], Seq[String], Int)]
                                = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val exists = SnapshotTable.latestVersion(spark, dir).nonEmpty
      if (exists && !replace) fail(
        s"CREATE TABLE: a snapshot table already exists under $dir — " +
          "use CREATE OR REPLACE TABLE")
      if (exists && (partitionBy.nonEmpty || bucket.nonEmpty)) fail(
        "CREATE TABLE with a layout clause requires a fresh directory")
      val q = spark.sql(query)
      val v =
        if (partitionBy.nonEmpty)
          SnapshotTable.appendPartitioned(q, dir, partitionBy)
        else bucket match {
          case Some((bCols, sCols, n)) =>
            SnapshotTable.appendBucketed(q, dir, bCols, n, sCols)
          case None =>
            if (exists) SnapshotTable.overwrite(q, dir)
            else SnapshotTable.append(q, dir)
        }
      Seq(Row(v))
    }
  }

  /** `CREATE TABLE graft.`p` (cols)` → [[SnapshotTable.createEmpty]]:
    * a v0 manifest recording the declared schema, zero data files. */
  case class GraftCreateEmptyCommand(dir: String, schemaDdl: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val schema =
        try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseTableSchema(schemaDdl)
        catch { case e: Exception =>
          fail(s"CREATE TABLE: bad column list ($schemaDdl): ${e.getMessage}")
        }
      Seq(Row(SnapshotTable.createEmpty(spark, dir, schema)))
    }
  }

  /** The four metadata `ALTER TABLE` forms. */
  case class GraftAlterCommand(dir: String, op: String, args: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = op match {
        case "renameColumn" =>
          SnapshotTable.renameColumn(spark, dir, args(0), args(1))
        case "addColumn" =>
          SnapshotTable.addColumn(spark, dir, args(0),
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(args(1)))
        case "addColumnDefault" =>
          SnapshotTable.addColumn(spark, dir, args(0),
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(args(1)), default = Some(args(2)))
        case "dropColumn" => SnapshotTable.dropColumn(spark, dir, args(0))
        case "addConstraint" =>
          SnapshotTable.addConstraint(spark, dir, args(0), args(1))
        case "dropConstraint" =>
          SnapshotTable.dropConstraint(spark, dir, args(0))
        case "widenColumn" =>
          SnapshotTable.widenColumn(spark, dir, args(0),
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(args(1)))
      }
      Seq(Row(v))
    }
  }

  /** `OPTIMIZE` → bin-pack small files (Delta's default), Z-order
    * rewrite, or the stats-pruned scoped form. */
  case class GraftOptimizeCommand(dir: String,
                                  between: Option[(String, String, String)],
                                  zorder: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = between match {
        case Some((c, lo, hi)) =>
          SnapshotTable.compactWhere(spark, dir, c,
            literalValue(lo), literalValue(hi))
        case None if zorder.nonEmpty =>
          SnapshotTable.compact(spark, dir, zOrderBy = zorder)
        case None =>
          SnapshotTable.binPackSmall(spark, dir,
            smallerThanBytes = 128L * 1024 * 1024)
      }
      Seq(Row(v.map(Long.box).orNull))
    }
  }

  /** `VACUUM [DRY RUN]` → retention GC / its read-only preview.
    * minAgeMs=0: the SQL surface assumes no in-flight writer (the
    * programmatic API keeps the safe default). */
  case class GraftVacuumCommand(dir: String, keepVersions: Int,
                                dryRun: Boolean,
                                retainHours: Option[Long] = None)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      if (dryRun) Seq(longAttr("files_eligible"), longAttr("manifests_below"))
      else Seq(longAttr("files_deleted"))
    override def run(spark: SparkSession): Seq[Row] = {
      // RETAIN n HOURS translates through the adjusted commit
      // timeline: every version inside the window survives
      val keep = retainHours match {
        case Some(h) => SnapshotTable.keepVersionsForRetention(
          spark, dir, h * 3600L * 1000L)
        case None => keepVersions
      }
      if (dryRun) {
        val (files, manifests) =
          SnapshotTable.vacuumPreview(spark, dir, keep, minAgeMs = 0L)
        Seq(Row(files.toLong, manifests.toLong))
      } else Seq(Row(
        SnapshotTable.vacuum(spark, dir, keep, minAgeMs = 0L).toLong))
    }
  }

  /** `RESTORE … VERSION AS OF n | TIMESTAMP AS OF 'ts'` →
    * [[SnapshotTable.restore]], timestamps resolved through the same
    * adjusted commit timeline as read-side time travel. */
  case class GraftRestoreCommand(dir: String, toVersion: Option[Long],
                                 toTimestamp: Option[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version", nullable = true))
    override def run(spark: SparkSession): Seq[Row] = {
      val v = toVersion.getOrElse {
        val t = toTimestamp.get
        val millis = scala.util.Try(t.toLong).getOrElse(
          java.sql.Timestamp.valueOf(t).getTime)
        SnapshotTable.versionAtTimestamp(spark, dir, millis)
      }
      Seq(Row(SnapshotTable.restore(spark, dir, v).map(Long.box).orNull))
    }
  }

  /** `ALTER TABLE … SET/UNSET TBLPROPERTIES` → one metadata commit. */
  case class GraftPropsCommand(dir: String, set: Map[String, String],
                               unset: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(if (set.nonEmpty) SnapshotTable.setProperties(spark, dir, set)
              else SnapshotTable.unsetProperties(spark, dir, unset)))
  }

  /** `SHOW TBLPROPERTIES` → the recorded key/value pairs. */
  case class GraftShowPropsCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("value", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val snap = SnapshotTable.headSnapshot(spark, dir).getOrElse(
        fail(s"SHOW TBLPROPERTIES: no committed version under $dir"))
      snap.state.props
        .toSeq.sortBy(_._1).map { case (k, value) => Row(k, value) }
    }
  }

  /** True when the table's recorded properties route row-level DML
    * through merge-on-read deletion vectors. */
  private def morEnabled(spark: SparkSession, dir: String): Boolean =
    SnapshotTable.headSnapshot(spark, dir).exists(_.state.props
      .get(SnapshotTable.EnableDeletionVectorsKey).exists(_.toBoolean))

  /** `DESCRIBE DETAIL` → one metadata-only summary row (`n_rows` is
    * the manifest fold of [[SnapshotTable.countRows]] — no scan). */
  case class GraftDetailCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      longAttr("version"), longAttr("n_files"), longAttr("total_bytes"),
      longAttr("n_rows"),
      AttributeReference("schema", StringType, nullable = false)(),
      AttributeReference("features", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val snap = SnapshotTable.headSnapshot(spark, dir).getOrElse(
        fail(s"DESCRIBE DETAIL: no committed version under $dir"))
      val v = snap.version
      val st = snap.state
      val rows = SnapshotTable.countRows(spark, dir, Some(v))
      val schema = st.schema
        .map(_.map(f => s"${f.name} ${f.dataType.simpleString}")
          .mkString(", ")).getOrElse("")
      val feats = Seq(
        if (st.colMap.nonEmpty || st.retired.nonEmpty) Some("colmap")
        else None,
        if (st.dvRefs.nonEmpty) Some("dv") else None,
        if (st.constraints.nonEmpty) Some("constraints") else None,
        st.bucket.map(b => s"bucket(${b.cols.mkString(",")};${b.numBuckets})")
      ).flatten.mkString(" ")
      Seq(Row(v, st.files.size.toLong, st.sizes.values.sum, rows, schema,
        feats))
    }
  }

  /** `SHOW CONSTRAINTS` → the table's recorded CHECK policy. */
  case class GraftShowConstraintsCommand(dir: String)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("name", StringType, nullable = false)(),
      AttributeReference("expr", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val snap = SnapshotTable.headSnapshot(spark, dir).getOrElse(
        fail(s"SHOW CONSTRAINTS: no committed version under $dir"))
      snap.state.constraints
        .toSeq.sortBy(_._1).map { case (n, e) => Row(n, e) }
    }
  }

  /** `CREATE TABLE graft.`dst` SHALLOW CLONE src [VERSION AS OF n]` →
    * [[SnapshotTable.shallowClone]] — branch in one manifest write. */
  case class GraftCloneCommand(srcDir: String, dstDir: String,
                               version: Option[Long])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(longAttr("version"))
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(SnapshotTable.shallowClone(spark, srcDir, dstDir, version)))
  }

  /** `DESCRIBE HISTORY` → the commit log (version, op, commit_ts,
    * add/remove/file/byte counts). Control-plane sized: one row per
    * surviving version. */
  case class GraftHistoryCommand(dir: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      longAttr("version"),
      AttributeReference("op", StringType, nullable = false)(),
      longAttr("commit_ts", nullable = true),
      longAttr("n_added"), longAttr("n_removed"),
      longAttr("n_files"), longAttr("total_bytes"))
    override def run(spark: SparkSession): Seq[Row] =
      SnapshotTable.history(spark, dir).collect().toSeq
  }
}

/** The injected parser: graft snapshot-DML first, Spark for
  * everything else (see [[GraftSqlCommands]] for the grammar and the
  * delegation guarantee). Carries ITS session so bare table names
  * resolve against that session's address book, never another's. */
class GraftSqlParser(session: SparkSession,
                     delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlCommands.tryParse(session, sqlText)
      .getOrElse(delegate.parsePlan(sqlText))
  override def parseExpression(sqlText: String) =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String) =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String) =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String) =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String) = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String) =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String) =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String) = delegate.parseDataType(sqlText)
}
