package graft.plans

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.EqualNullSafe
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, JoinHint, LocalRelation, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

import org.apache.spark.sql.connector.write.RowLevelOperation.Command

import graft.catalog.{GraftTable, Snapshots}
import graft.catalog.write.{DvManifest, GraftBatchWrite, GraftMorOperation, PositionalRead}

/** DELETION-VECTOR APPLICATION (q119) — the read half of merge-on-read
  * DML, done the Spark-first way: not a per-row reader filter, but a
  * LOGICAL-PLAN rewrite, so Catalyst keeps every optimization it already
  * knows.
  *
  * A relation over a table with live DV batches splits into pinned
  * fragments by "which batches apply to this file":
  *
  * {{{
  *   t  ⇒  Union(
  *     scan(files no batch applies to),                       — untouched
  *     scan(files of batch group G) LEFT ANTI JOIN keys(G)    — per group
  *       ON t.key <=> dv.key  [broadcast]
  *   )
  * }}}
  *
  * Why this shape survives 100 TB:
  *  - the clean fragment (the overwhelming majority of files between
  *    compactions) scans EXACTLY as before — vectorized, pushed-down,
  *    pruned; zero per-row overhead;
  *  - the anti-join's build side is the batch's deleted keys — small by
  *    the MOR contract (compaction folds batches) — and broadcast, so
  *    no shuffle of the data side, and AQE/codegen treat it like any
  *    other join;
  *  - per-FILE scoping (`appliesTo` = the DML scan's read set) gives
  *    correct sequencing for free: a key deleted in batch v and
  *    re-inserted later lives in a file no batch applies to, so it
  *    survives — the property Iceberg needs sequence numbers for;
  *  - travel reads work unchanged: a pinned (VERSION AS OF) relation
  *    carries ITS snapshot's dv list and splits the pinned file set the
  *    same way.
  *
  * Installed via `graft.GraftExtensions` (operator-optimization batch —
  * BEFORE pushdown, so every fragment gets its own pushdown/pruning
  * pass). Idempotent: the fragments are pinned tables whose dv list is
  * empty. Sessions without the rule are refused loudly by
  * `GraftTable.newScanBuilder` — never served raw files.
  */
object ResolveDeletionVectors extends Rule[LogicalPlan] {

  /** Diagnostic counter: PHYSICAL directory listings taken by the DV
    * planner (cache misses). Tests pin one listing per (dir, cache
    * epoch) across repeated reads of a DV'd table. */
  private[graft] val physicalListings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Diagnostic counter: files the delta-condition SKIP-STATS pruning
    * removed from a DML delta scan (round 22). Tests pin that a
    * selective MERGE/DELETE condition scans fewer files, and that an
    * unsound shape (not-matched-by-source) prunes nothing. */
  private[graft] val skippedDeltaFiles =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Directory listings keyed by (qualified dir, DESCRIPTOR SEQ, the
    * live DV batch TOKENS): every commit bumps the table's seq, so an
    * entry is valid exactly for the descriptor state that planned it —
    * no invalidation hooks to miss (the session `FileStatusCache`
    * namespaces entries per client and its per-client invalidation
    * cannot be relied on across planners). The UUID tokens disambiguate
    * TABLE INCARNATIONS: a DROP + re-CREATE under the same name replays
    * the same (dir, seq) pairs, but can never mint the same batch
    * token. Entries carry their insertion time and EXPIRE past the
    * write-lease timeout: crash REPAIRS move files without a seq bump,
    * and while this JVM's repairs clear the cache explicitly
    * ([[invalidateListings]]), a repair in ANOTHER DRIVER cannot — the
    * TTL bounds that exposure to the same staleness window as every
    * other cross-driver residue rule. Bounded LRU; repeated reads of a
    * DV'd table between commits pay one physical listing per directory
    * per TTL window. */
  private val listingCache: java.util.Map[(String, Long, String), (Long, Seq[org.apache.hadoop.fs.FileStatus])] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, String), (Long, Seq[org.apache.hadoop.fs.FileStatus])](
        64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, String), (Long, Seq[org.apache.hadoop.fs.FileStatus])]): Boolean =
          size() > 4096
      })

  /** Drop every cached listing. Called by the crash-REPAIR paths: a
    * repair moves or deletes data files WITHOUT bumping the descriptor
    * seq (the crashed commit never published), so a listing cached
    * before the repair would keep planning the swept files under an
    * unchanged (dir, seq, tokens) key. Repairs are rare; clearing
    * everything is the simple correct move. */
  private[graft] def invalidateListings(): Unit = listingCache.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueries {
      // any read of a table with live DV batches, PLUS (q121) a read of
      // a positional-MOR table whose output references the (_file, _pos)
      // metadata columns — only the rewrite's V1 `_metadata` plan can
      // produce them (fragments the rewrite mints never reference them,
      // so the rule cannot re-match its own output)
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] && {
          val t = r.table.asInstanceOf[GraftTable]
          t.meta.deleteVectors.nonEmpty ||
            (graft.catalog.GraftCatalog.morPositional(t.meta) &&
              r.output.exists(a => PositionalRead.isReserved(a.name)))
        } =>
        rewrite(r, r.table.asInstanceOf[GraftTable])
      // POSITIONAL delta read under its DML predicate (q121): the
      // rewrite rules put `Filter(cond, readRelation)` directly above
      // the delta relation for DELETE and UPDATE. Capturing the
      // condition here restores the STATIC partition pruning the keyed
      // path gets from its scan builder — partition-column conjuncts
      // that are provably false over a directory's spec values drop the
      // directory from the delta universe (and so from the conflict
      // check and the new batch's appliesTo), which is what keeps a
      // one-partition DELETE from making every later read anti-join the
      // whole table.
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if morDelta(f.child).isDefined =>
        val (r, t, op) = morDelta(f.child).get
        f.copy(child = rewrite(r, t, Some(op), Some(f.condition)))
      // MERGE delta read under its join (round 22, r21 verdict "Next
      // round" #2): MERGE's rewrite puts no Filter above the target
      // relation — the condition lives in the JOIN against the source —
      // so the positional-MERGE delta scan planned the FULL table
      // universe while DELETE/UPDATE (the Filter case above) pruned.
      // Capturing the join here derives the target-side implications of
      // the merge condition (target-only conjuncts, plus source-side
      // constraints carried across the equi-join columns — the same
      // inference InferFiltersFromConstraints performs, done eagerly
      // because this rewrite replaces the relation before that batch
      // sees it) and hands them to the SAME static partition pruning +
      // skip-stats file pruning the other delta reads use. Gated on
      // join types where every AFFECTED target row is a MATCHED row
      // (a not-matched-by-source MERGE preserves the target side —
      // no pruning there, ever).
      case j: Join if deltaInJoin(j).isDefined =>
        val (r, t, op, targetLeft) = deltaInJoin(j).get
        import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
        val safe = j.joinType match {
          case Inner => true
          case RightOuter => targetLeft // source side preserved, target matched-only
          case LeftOuter => !targetLeft
          case FullOuter => false
          case _ => false
        }
        val srcPlan = if (targetLeft) j.right else j.left
        val cond =
          if (safe) deriveTargetCond(j.condition, r, srcPlan) else None
        val newSide = (if (targetLeft) j.left else j.right).transformUp {
          case rel: DataSourceV2Relation if rel eq r =>
            rewrite(rel, t, Some(op), cond)
        }
        if (targetLeft) j.copy(left = newSide) else j.copy(right = newSide)
      // MOR UPDATE / MERGE over LIVE deletion vectors (round 20): the
      // delta operation's read gets the SAME anti-join split as any other
      // read of the table, so hidden rows are never re-emitted (which
      // would resurrect deleted keys) and the hourly-MERGE workload no
      // longer needs a compaction between statements. The operation's
      // scan builder is bypassed by this rewrite, so its read snapshot
      // (the conflict check's expected set + the new batch's `appliesTo`)
      // is recorded here from the same universe the fragments scan.
      // DELETE keeps its raw-file delta scan: re-deleting an
      // already-hidden key is a no-op under the anti-join, and skipping
      // the split keeps the static partition pruning it already has.
      case r: DataSourceV2Relation
          if org.apache.spark.sql.graft.GraftSqlBridge
            .rowLevelOperationTable(r.table).isDefined =>
        org.apache.spark.sql.graft.GraftSqlBridge
          .rowLevelOperationTable(r.table) match {
          // a POSITIONAL operation's delta read is ALWAYS planned here
          // (q121, any command, even with zero live batches): its rowId
          // is the (_file, _pos) pair only the V1 `_metadata` plan can
          // produce
          case Some((t: GraftTable, op: GraftMorOperation))
              if op.positional ||
                (op.command() != Command.DELETE &&
                  t.meta.deleteVectors.nonEmpty) =>
            rewrite(r, t, Some(op))
          case _ => r
        }
    }

  /** The merge-on-read delta relation THIS RULE plans (a positional
    * operation always; a keyed UPDATE/MERGE while batches are live),
    * when `p` is one — its Filter parent carries the DML condition the
    * static partition pruning consumes, so a one-partition UPDATE on a
    * 10k-partition table scans (and scopes its conflict check and its
    * new batch's `appliesTo` to) one partition, not the table. */
  private def morDelta(p: LogicalPlan)
      : Option[(DataSourceV2Relation, GraftTable, GraftMorOperation)] =
    p match {
      case r: DataSourceV2Relation =>
        org.apache.spark.sql.graft.GraftSqlBridge
          .rowLevelOperationTable(r.table) match {
          case Some((t: GraftTable, op: GraftMorOperation))
              if op.positional ||
                (op.command() != Command.DELETE &&
                  t.meta.deleteVectors.nonEmpty) =>
            Some((r, t, op))
          case _ => None
        }
      case _ => None
    }

  /** The delta relation inside one side of a MERGE join, with which
    * side holds it. Matches only a BARE relation (the rewrite's initial
    * plan shape) — a relation already wrapped by this rule's output
    * never re-matches ([[morDelta]] rejects fragment tables). */
  private def deltaInJoin(j: Join)
      : Option[(DataSourceV2Relation, GraftTable, GraftMorOperation, Boolean)] = {
    def find(p: LogicalPlan) = p.collectFirst(Function.unlift(morDelta))
    find(j.left).map { case (r, t, op) => (r, t, op, true) }
      .orElse(find(j.right).map { case (r, t, op) => (r, t, op, false) })
  }

  /** Target-column implications of a merge join's condition: the
    * condition's own target-only conjuncts, plus every source-side
    * CONSTRAINT (Catalyst's upward-propagated filter set — e.g. the
    * `q BETWEEN 20 AND 25` under `USING (... WHERE q BETWEEN 20 AND
    * 25) s ON tgt.k = s.q`) rewritten onto the target column its source
    * column is equated with. Sound for matched rows by transitivity:
    * an EqualTo match requires both sides non-null and equal, and an
    * EqualNullSafe match against a constrained (hence non-null-proven)
    * source value degrades to equality. Anything non-deterministic or
    * subquery-bearing is skipped — the result only ever PRUNES
    * provably-unmatchable storage, never filters rows. */
  private def deriveTargetCond(
      cond: Option[org.apache.spark.sql.catalyst.expressions.Expression],
      r: DataSourceV2Relation,
      src: LogicalPlan): Option[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, ExprId, PredicateHelper}
    import org.apache.spark.sql.catalyst.trees.TreePattern
    object Split extends PredicateHelper {
      def conjuncts(e: Expression): Seq[Expression] = splitConjunctivePredicates(e)
    }
    val conjs = cond.toSeq.flatMap(Split.conjuncts)
    val tgtSet = r.outputSet
    def usable(c: Expression): Boolean =
      c.deterministic && !c.containsPattern(TreePattern.PLAN_EXPRESSION)
    val direct = conjs.filter(c => usable(c) &&
      c.references.nonEmpty && c.references.subsetOf(tgtSet))
    val srcToTgt: Map[ExprId, AttributeReference] = conjs.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        Seq(a -> b, b -> a)
      case EqualNullSafe(a: AttributeReference, b: AttributeReference) =>
        Seq(a -> b, b -> a)
    }.flatten.collect {
      case (tgt, s) if tgtSet.contains(tgt) && src.outputSet.contains(s) &&
          tgt.dataType == s.dataType =>
        s.exprId -> tgt
    }.toMap
    val derived = src.constraints.toSeq.flatMap { c =>
      if (usable(c) && c.references.nonEmpty &&
          c.references.forall(a => srcToTgt.contains(a.exprId)))
        Some(c.transform { case a: AttributeReference => srcToTgt(a.exprId) })
      else None
    }
    (direct ++ derived).reduceOption(And)
  }

  private def rewrite(
      r: DataSourceV2Relation, t: GraftTable,
      forOp: Option[GraftMorOperation] = None,
      deltaCond: Option[org.apache.spark.sql.catalyst.expressions.Expression] = None): LogicalPlan = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val meta = t.meta
    def qualify(p: Path): String =
      p.getFileSystem(conf).makeQualified(p).toString

    // each live batch's manifest: key column, the qualified data files
    // it applies to, and the dir holding its deleted-key parquet files.
    // A missing/torn manifest refuses the read — serving the rows would
    // resurrect the deleted keys.
    val batches: Seq[(String, Set[String], String, Long)] =
      meta.deleteVectors.map { dv =>
        val (keyCol, applies, keys) = DvManifest.read(conf, dv.manifest).getOrElse(
          throw new IllegalStateException(
            s"deletion-vector manifest ${dv.manifest} of ${t.name()} is " +
              "missing or torn — refusing to read (deleted rows would " +
              "resurface); restore it or roll the table back"))
        (keyCol, applies.map(s => qualify(new Path(s))).toSet,
          new Path(dv.manifest).getParent.toString, keys)
      }

    // delta-condition STATIC partition pruning (positional DML, q121): a
    // dir whose spec provably fails the condition holds no matching
    // row — out of the scan, the conflict check, and the new batch's
    // appliesTo. Evaluated ONCE per partition; plain reads (no
    // deltaCond) keep everything.
    val keptPartitions: Seq[graft.catalog.PartitionMeta] =
      if (meta.isPartitioned)
        meta.partitions.filter(p => deltaCond.forall(c =>
          graft.catalog.PartitionValues.mayMatch(spark, meta, p.spec, c)))
      else Nil

    // the file universe: the pinned snapshot's recorded set (travel
    // reads — identity is the ORIGINAL dir + name even when the file now
    // lives in a retirement area), or the live listing per registered
    // directory. Metadata-only planning work, ∝ files in involved dirs.
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
    val universe: Seq[(String, String, Map[String, String], org.apache.hadoop.fs.FileStatus)] =
      t.pinnedResolved match {
        case Some(res) => res.dirs.flatMap { rd =>
          val qd = qualify(new Path(rd.dir))
          rd.files.map(f => (s"$qd/${f.getPath.getName}", rd.dir, rd.spec, f))
        }
        case None =>
          val dirSpecs: Seq[(String, Map[String, String])] =
            if (meta.isPartitioned)
              keptPartitions.map(p => (
                p.location.getOrElse(
                  GraftBatchWrite.partitionDir(meta, p.spec).toString),
                p.spec))
            else Seq((meta.location, Map.empty[String, String]))
          // dir listings ride the seq-keyed planner cache (round 20):
          // repeated reads of a DV'd table between commits pay ONE
          // physical listing per directory, not one per planning pass —
          // a commit bumps the descriptor seq, so its readers key to
          // fresh entries by construction.
          val incarnation = meta.deleteVectors.map(_.token).mkString(",")
          // the batch TOKENS are what disambiguate table INCARNATIONS
          // (a DROP + re-CREATE under the same name replays the same
          // (dir, seq) pairs) — so a ZERO-batch planning pass (q121: a
          // positional delta read or metadata-column select before any
          // DV exists) must NOT consult the cache at all: its key would
          // alias the previous incarnation's listing and the DML would
          // plan over deleted files. One uncached listing per such
          // statement; DV'd reads (the repeated-read case the cache is
          // for) keep paying one listing per (dir, seq, tokens).
          val ttlMs = t.graftCatalog.writeLockTimeoutSec * 1000L
          dirSpecs.flatMap { case (d, spec) =>
            val dir = new Path(d)
            val fs = dir.getFileSystem(conf)
            val q = fs.makeQualified(dir)
            val key = (q.toString, meta.seq, incarnation)
            val now = System.currentTimeMillis()
            var listed: Seq[org.apache.hadoop.fs.FileStatus] =
              if (meta.deleteVectors.isEmpty) null
              else listingCache.get(key) match {
                case null => null
                case (at, _) if now - at > ttlMs => null // expired
                case (_, l) => l
              }
            if (listed == null) {
              physicalListings.incrementAndGet()
              listed =
                if (fs.exists(q)) fs.listStatus(q).toSeq
                  .filter(s => s.isFile && !hidden(s.getPath.getName))
                else Nil
              if (meta.deleteVectors.nonEmpty)
                listingCache.put(key, (now, listed))
            }
            listed.map(f => (qualify(f.getPath), d, spec, f))
          }
      }

    // a delta operation's read snapshot: the write's commit re-lists and
    // refuses on mismatch (conflict detection), and the committed DV
    // batch applies to exactly these files — recorded here because the
    // fragments' scans replace the operation's own scan builder.
    // Recorded from the FULL (partition-pruned) universe, BEFORE the
    // skip-stats file pruning below: the conflict check compares a live
    // re-listing of whole directories against this set, so a file-level
    // subset would read as a spurious concurrent write — and keeping
    // the batch's appliesTo at the full universe is byte-identical to
    // the pre-pruning behavior (a provably-unmatched file contributes
    // no keys, so anti-joining it removes nothing).
    forOp.foreach { op =>
      op.scannedFiles = Some(universe.map(_._1).toSet)
      // the SAME pruned spec set the universe listed: the commit's
      // conflict re-listing must cover exactly the dirs whose files are
      // in scannedFiles, or a pruned partition's files would read as a
      // spurious concurrent write
      op.scannedSpecs =
        if (meta.isPartitioned) Some(keptPartitions.map(_.spec)) else None
    }

    // skip-stats FILE pruning under the delta condition (round 22, r21
    // verdict "Next round" #2): a DML read whose condition provably
    // excludes a file's recorded min/max range (or bloom) never scans
    // it — the same per-file manifest evaluation the keyed scan path
    // gets from GraftFileIndex, applied to the delta universe. Rows in
    // a pruned file cannot satisfy the condition, so the DML could
    // never have affected them (for MERGE the condition is derived
    // only on matched-row-affecting join shapes — see deriveTargetCond)
    // — pruning here is scan-cost only, never a semantic change.
    // Delta operations only: plain reads keep their own scan pruning.
    val scanUniverse: Seq[(String, String, Map[String, String], org.apache.hadoop.fs.FileStatus)] =
      deltaCond match {
        case Some(c) if forOp.isDefined =>
          object Split extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
            def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression) =
              splitConjunctivePredicates(e)
          }
          val conjs = Split.conjuncts(c)
          val kept = universe.groupBy(_._2).toSeq.flatMap { case (dir, files) =>
            val keep = graft.catalog.SkipStats.filterFiles(spark, meta.schema,
              meta.properties, new Path(dir), files.map(_._4), conjs)
              .map(_.getPath).toSet
            files.filter(f => keep.contains(f._4.getPath))
          }
          skippedDeltaFiles.addAndGet((universe.size - kept.size).toLong)
          kept
        case _ => universe
      }

    // group files by the SET of batches that apply; clean group first so
    // the Union's output (= head child's) keeps the original exprIds
    val grouped: Seq[(Seq[Int], Seq[Snapshots.ResolvedDir])] = scanUniverse
      .groupBy { case (id, _, _, _) =>
        batches.indices.filter(i => batches(i)._2.contains(id))
      }
      .toSeq.sortBy(_._1.mkString(","))
      .map { case (idxs, files) =>
        val dirs = files.groupBy(f => (f._2, f._3)).map {
          case ((dir, spec), fs) => Snapshots.ResolvedDir(dir, spec, fs.map(_._4))
        }.toSeq.sortBy(_.dir)
        (idxs, dirs)
      }

    if (grouped.isEmpty) return LocalRelation(r.output)

    // POSITIONAL tables (q121) take the V1 `_metadata` plan shape: the
    // (_file, _pos) identity only exists there. Keyed tables keep the
    // round-19 DSv2 split byte-for-byte.
    val positional = graft.catalog.GraftCatalog.morPositional(meta) ||
      batches.exists(_._1 == PositionalRead.Marker)
    if (positional) return positionalUnion(spark, r, t, grouped, batches)

    val children: Seq[LogicalPlan] = grouped.zipWithIndex.map {
      case ((batchIdxs, dirs), i) =>
        val sub = t.pinnedSubset(dirs)
        // head child reuses the ORIGINAL attribute ids so the rewritten
        // subtree is a drop-in for the relation it replaces
        val base =
          if (i == 0) DataSourceV2Relation(sub, r.output, None, None, r.options)
          else DataSourceV2Relation.create(sub, None, None)
        if (batchIdxs.isEmpty) base
        else {
          // the batch's key declaration: one or more comma-separated
          // columns (a composite key anti-joins on the TUPLE, null-safe
          // per column — all key columns are NOT NULL by the DDL gate,
          // so <=> degrades to = for the planner)
          val keyCols =
            graft.catalog.GraftCatalog.morKeyColumns(batches(batchIdxs.head)._1)
          val keyAttrs = keyCols.map(kc =>
            base.output.find(_.name.equalsIgnoreCase(kc))
              .getOrElse(throw new IllegalStateException(
                s"deletion-vector key '$kc' not in output of ${t.name()}")))
          val keyFields = keyCols.map(kc => meta.schema.fields
            .find(_.name.equalsIgnoreCase(kc)).get)
          // the batch group's deleted keys: tiny parquet sidecars, read
          // with an explicit schema (no inference round-trip) and —
          // while the group stays under the dvBroadcastKeys ceiling —
          // BROADCAST, so the data side never shuffles. An OVERSIZED
          // group (a broad MOR DELETE with compaction behind) gets no
          // hint: forcing a multi-GB broadcast is an OOM, and the
          // planner's shuffled anti-join returns the same rows safely.
          val keysPlan: LogicalPlan = batchIdxs.map { bi =>
            spark.read.schema(StructType(keyFields))
              .parquet(batches(bi)._3)
              .queryExecution.analyzed
          }.reduce((a, b) => Union(Seq(a, b), false, false))
          val groupKeys = batchIdxs.map(bi => batches(bi)._4).sum
          val hint =
            if (groupKeys <= t.graftCatalog.dvBroadcastKeys)
              JoinHint(None, Some(HintInfo(Some(BROADCAST))))
            else JoinHint.NONE
          val cond = keyAttrs.zip(keysPlan.output)
            .map { case (a, k) =>
              EqualNullSafe(a, k): org.apache.spark.sql.catalyst.expressions.Expression }
            .reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
          Join(base, keysPlan, LeftAnti, Some(cond), hint)
        }
    }
    children match {
      case Seq(one) => one
      case many => Union(many, false, false)
    }
  }

  /** The POSITIONAL fragment union (q121): groups whose files no batch
    * touches stay on the untouched DSv2 scan (vectorized, pruned) unless
    * the read itself asked for the metadata columns; touched groups (and
    * metadata-column reads) are served by [[PositionalRead.filesDf]] —
    * the V1 parquet plan generating `_file`/`_pos` — anti-joined to the
    * group's recorded positions. Each child projects to the relation's
    * output by NAME; the head child is re-aliased onto the ORIGINAL
    * attribute ids so the rewritten subtree is a drop-in replacement. */
  private def positionalUnion(
      spark: SparkSession,
      r: DataSourceV2Relation,
      t: GraftTable,
      grouped: Seq[(Seq[Int], Seq[Snapshots.ResolvedDir])],
      batches: Seq[(String, Set[String], String, Long)]): LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.functions.col
    val meta = t.meta
    val needMeta = r.output.exists(a => PositionalRead.isReserved(a.name))
    def alignTo(out: Seq[Attribute], plan: LogicalPlan): LogicalPlan =
      Project(out.map { a =>
        val c = plan.output.find(_.name.equalsIgnoreCase(a.name)).getOrElse(
          throw new IllegalStateException(
            s"positional rewrite of ${t.name()} lost column '${a.name}'"))
        Alias(c, a.name)(exprId = a.exprId): NamedExpression
      }, plan)
    val children: Seq[LogicalPlan] = grouped.zipWithIndex.map {
      case ((batchIdxs, dirs), i) =>
        if (batchIdxs.isEmpty && !needMeta) {
          val sub = t.pinnedSubset(dirs)
          if (i == 0) DataSourceV2Relation(sub, r.output, None, None, r.options)
          else DataSourceV2Relation.create(sub, None, None)
        } else {
          var df = PositionalRead.filesDf(spark, meta, dirs, withMeta = true)
          if (batchIdxs.nonEmpty)
            df = PositionalRead.applyBatches(df,
              PositionalRead.keysDf(spark, batchIdxs.map(bi => batches(bi)._3)))
          val projected =
            df.select(r.output.map(a => col(a.name)): _*).queryExecution.analyzed
          if (i == 0) alignTo(r.output, projected) else projected
        }
    }
    children match {
      case Seq(one) => one
      case many => Union(many, false, false)
    }
  }
}
