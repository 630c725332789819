package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `fsck` — validate a commit-log table tree against the on-disk
  * protocol specification (FORMAT.md §8's conformance checklist),
  * reporting findings instead of throwing: the operational
  * complement of the loud-on-read guards. The readers raise on the
  * FIRST corruption they hit on the path they need; fsck sweeps the
  * WHOLE tree and classifies everything it finds, so an operator can
  * see the blast radius of an incident (partial sweep, crashed
  * writer, bit rot, a non-conforming second writer) before deciding
  * on repair — Delta ships the same idea as FSCK REPAIR TABLE.
  *
  * Finding levels:
  *  - ERROR: the table violates a MUST of the spec — some read,
  *    time travel, or future commit will fail or would be wrong.
  *  - WARN: conformant but degraded — correctness holds, something
  *    operational is off (lost sidecar ⇒ lost pruning, never rows).
  *  - INFO: harmless debris the spec explicitly tolerates (crashed
  *    writers' staging dirs, orphan segments, cadence gaps) —
  *    vacuum's sweep list, not a defect.
  *
  * Scale shape (the 100 TB lens): driver work is O(retained
  * versions) small-file reads (ONE forward replay pass, same as
  * `snapshotsAsc`) plus one `listStatus` each of `_commits/`,
  * `data/`, `_dv/`, `_changes/` — the listings vacuum already does.
  * The per-segment checks (existence, data files, sidecar grammar)
  * run DISTRIBUTED over the executors (`deep=true`), so a million
  * segments cost a million executor-side stat calls, zero driver
  * memory beyond the path list, and the result stays a DataFrame —
  * nothing is collected.
  *
  * Reference anchor: the reference trusts SQL Server for storage
  * integrity (`SELECT.py` never sees a file); a lakehouse owns its
  * own tree, so it must also own the consistency checker the
  * database engine used to be.
  */
object CommitLogFsck {

  /** One finding: `(level, code, object, detail)`. */
  private type Finding = (String, String, String, String)

  private def err(code: String, obj: String, detail: String): Finding =
    ("ERROR", code, obj, detail)
  private def warn(code: String, obj: String, detail: String): Finding =
    ("WARN", code, obj, detail)
  private def info(code: String, obj: String, detail: String): Finding =
    ("INFO", code, obj, detail)

  /** Validate `table` against FORMAT.md. Returns a DataFrame
    * `(level, code, object, detail)`, empty ⇒ fully conformant.
    * `deep=true` adds the distributed per-segment pass (existence,
    * data files, sidecar grammar/era/tags); `deep=false` is
    * metadata-only — O(retained versions) driver reads, no job. */
  def fsck(spark: SparkSession, table: String,
      deep: Boolean = true): DataFrame = {
    import spark.implicits._
    val local = scala.collection.mutable.ArrayBuffer.empty[Finding]
    val f = CommitLog.fs(spark, table)
    val vs = CommitLog.versions(spark, table)

    if (vs.isEmpty) {
      local += info("empty_table", table,
        "no _commits/ manifests — nothing to validate")
      return local.toSeq.toDF("level", "code", "object", "detail")
    }

    // ---- 1. the log: chain shape, record grammar, replay ------------
    // contiguity: retained versions must be a dense range (§2.4 — a
    // hole strictly below the top is corruption; vacuum drops only
    // prefixes and pins the floor)
    vs.sliding(2).foreach {
      case Seq(a, b) if b != a + 1L =>
        local += err("chain_hole", s"v${a}..v$b",
          s"retained manifests jump $a -> $b; versions between are " +
            "unresolvable and every replay crossing the hole fails")
      case _ => ()
    }

    // one forward replay pass (snapshotsAsc's shape) with per-record
    // grammar checks; parse failures degrade to findings, never throws
    val snaps = scala.collection.mutable.ArrayBuffer.empty[
      CommitLog.Snapshot]
    // versions served by checkpoint re-anchor rather than pure
    // manifest replay — the checkpoint-agreement check below must
    // skip them (comparing a checkpoint against a state that CAME
    // from it proves nothing)
    val reanchored = scala.collection.mutable.Set.empty[Long]
    var prev: Option[CommitLog.Snapshot] = None
    vs.foreach { v =>
      val vName = f"$v%020d.manifest"
      CommitLog.readSmallFile(spark,
          CommitLog.manifestPath(table, v)) match {
        case None =>
          local += err("manifest_vanished", vName,
            "listed but unreadable (concurrent vacuum or store loss)")
          prev = None
        case Some(txt) =>
          // filename <-> recorded version agreement (§2.2: version
          // IS the filename; a copied-in-place record lies to replay)
          "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
            .map(_.group(1).toLong) match {
            case Some(rv) if rv != v => local += err(
              "version_mismatch", vName,
              s"record says version $rv — file renamed or copied; " +
                "time travel to either version is untrustworthy")
            case None => local += err("version_missing", vName,
              "record carries no version field")
            case _ => ()
          }
          // exactly ONE shape (§2.1): segments XOR add+remove
          val hasFull = txt.contains("\"segments\"")
          val hasDelta = txt.contains("\"addSegments\"")
          if (hasFull && hasDelta) local += err(
            "dual_shape", vName,
            "record carries BOTH segments and addSegments — readers " +
              "prefer segments, a second implementation may not")
          if (!hasFull && !hasDelta) local += err(
            "no_shape", vName,
            "record carries neither segments nor addSegments")
          // reader protocol (§2.4): a record requiring more than this
          // engine supports gets a DEDICATED finding (the parse guard
          // would throw — fsck reports, never throws) and is skipped
          // from replay (its content is uninterpretable by design)
          val futureProtocol =
            "\"protocol\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt)
              .map(_.group(1).toInt)
              .filter(_ > CommitLog.SupportedProtocol)
          futureProtocol.foreach { p =>
            local += err("protocol_unsupported", vName,
              s"record requires reader protocol $p (this engine " +
                s"supports ${CommitLog.SupportedProtocol}) — every " +
                "read surface refuses the table at or above this " +
                "version; upgrade the engine or RESTORE below it")
            prev = None
          }
          if (futureProtocol.isEmpty) try {
            val r = CommitLog.parseManifest(v, txt)
            if (r.snap.baseVersion >= v) local += warn(
              "base_not_below", vName,
              s"baseVersion ${r.snap.baseVersion} >= version $v — " +
                "OCC witness is impossible; tolerated by readers")
            val s = (r.delta, prev) match {
              case (Some((adds, removes)), Some(p))
                  if p.version == v - 1L =>
                val rm = removes.toSet
                // a remove that names nothing in the parent is a
                // writer bug (replay still conforms: drop in place)
                removes.filterNot(p.segments.contains).foreach(x =>
                  local += warn("phantom_remove", vName,
                    s"removeSegments names '$x' absent from v${v - 1}"))
                Some(r.snap.copy(
                  segments = p.segments.filterNot(rm) ++ adds))
              case (Some(_), _) =>
                // delta record with no replayable parent (hole just
                // below, or the retain floor): legal ONLY under a
                // checkpoint pin at or below v — re-anchor through
                // the normal resolution path, flag when that fails
                reanchored += v
                try CommitLog.snapshot(spark, table, Some(v))
                  .orElse {
                    local += err("unresolvable", vName,
                      "delta record with no replayable parent and " +
                        "no checkpoint pin at or below it — time " +
                        "travel to this version fails (vacuum must " +
                        "pin its floor)")
                    None
                  }
                catch {
                  case scala.util.control.NonFatal(e) =>
                    local += err("unresolvable", vName, e.getMessage)
                    None
                }
              case (None, _) => Some(r.snap)
            }
            s.foreach { snap => snaps += snap; prev = Some(snap) }
            if (s.isEmpty) prev = None
          } catch {
            case scala.util.control.NonFatal(e) =>
              local += err("manifest_parse", vName,
                s"unparseable record: ${e.getMessage}")
              prev = None
          }
      }
    }

    // ---- 2. checkpoints: grammar, parts, replay agreement -----------
    val interval = CommitLog.checkpointInterval(spark)
    val byVersion = snaps.map(s => s.version -> s).toMap
    val cpVersions = scala.collection.mutable.Set.empty[Long]
    val cd = new org.apache.hadoop.fs.Path(CommitLog.commitsDir(table))
    val commitFiles =
      if (f.exists(cd)) f.listStatus(cd).toSeq.map(_.getPath.getName)
      else Seq.empty
    commitFiles.filter(n => n.endsWith(".checkpoint")).foreach { n =>
      val v = n.stripSuffix(".checkpoint").toLong
      cpVersions += v
      try {
        CommitLog.readCheckpoint(spark, table, v).foreach { cp =>
          // conformance, not just parseability: the checkpoint must
          // BE the self-contained render of the replayed chain (§2.4)
          byVersion.get(v).filterNot(_ =>
              reanchored.contains(v)).foreach { replayed =>
            if (cp.segments != replayed.segments) local += err(
              "checkpoint_mismatch", n,
              s"checkpoint lists ${cp.segments.size} segment(s) but " +
                s"manifest replay yields ${replayed.segments.size} " +
                "(or a different order) — readers at or above " +
                s"v$v resolve through the WRONG state")
          }
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          local += err("checkpoint_corrupt", n, e.getMessage)
      }
    }
    // part files whose marker never landed = crashed writer debris
    // (§2.4: invisible, vacuum sweeps); parts UNDER a marker were
    // already validated by readCheckpoint above
    val PartName = "(\\d+)\\.checkpoint\\.part-(\\d+)-of-(\\d+)".r
    commitFiles.foreach {
      case n @ PartName(v, _, _) if !cpVersions.contains(v.toLong) =>
        local += info("orphan_checkpoint_part", n,
          "part file without its marker (crashed checkpoint writer) " +
            "— invisible to readers, swept with its version")
      case _ => ()
    }
    // cadence gaps are TOLERATED by design (§2.4: best-effort, after
    // the manifest) — surfaced as INFO because each lengthens replay
    vs.filter(v => v % interval == 0L && !cpVersions.contains(v) &&
        v != vs.head).foreach(v =>
      local += info("cadence_gap", f"v$v",
        "cadence checkpoint missing (crash between manifest and " +
          "checkpoint write) — replays through here read a longer " +
          "tail; CALL system.checkpoint to re-pin"))

    // ---- 3. table metadata: schema, mapping, constraints ------------
    snaps.lastOption.foreach { cur =>
      cur.schema.foreach { b64 =>
        try {
          val sch = CommitLog.decodeSchema(b64)
          val phys = sch.fields.map(fl =>
            CommitLog.physicalName(fl))
          phys.diff(phys.distinct).distinct.foreach(p =>
            local += err("physical_name_reuse", p,
              "two live columns share one physical name — scans " +
                "serve one column's bytes for both (§4.4 forbids " +
                "reuse for the lifetime of the table)"))
        } catch {
          case scala.util.control.NonFatal(e) =>
            local += err("schema_undecodable", s"v${cur.version}",
              s"recorded schema does not decode: ${e.getMessage}")
        }
      }
      cur.constraints.foreach { b64 =>
        try {
          val liveCols = cur.schema.map(CommitLog.decodeSchema)
            .map(_.fieldNames.map(_.toLowerCase).toSet)
          CommitLog.decodeConstraints(b64).foreach { case (nm, ex) =>
            try {
              val parsed =
                spark.sessionState.sqlParser.parseExpression(ex)
              // a rule referencing a column the schema lost (only a
              // non-conforming writer can produce this — the DDL
              // guards refuse it) wedges EVERY write's gate at
              // analysis until an UNSET
              liveCols.foreach { cols =>
                val gone = parsed.collect {
                  case u: org.apache.spark.sql.catalyst.analysis
                      .UnresolvedAttribute => u.name
                }.filterNot(r => cols(r.toLowerCase))
                if (gone.nonEmpty) local += err(
                  "constraint_unresolvable", nm,
                  s"CHECK expression '$ex' references column(s) " +
                    s"${gone.mkString(", ")} absent from the " +
                    "recorded schema — every write's gate fails " +
                    "analysis until UNSET")
              }
            } catch {
              case scala.util.control.NonFatal(e) => local += err(
                "constraint_unparseable", nm,
                s"CHECK expression '$ex' does not parse — every " +
                  s"write's gate fails analysis: ${e.getMessage}")
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            local += err("constraints_undecodable", s"v${cur.version}",
              e.getMessage)
        }
      }
      // dead side files next to field-carrying records (§4.5, §4.3)
      if (cur.constraints.isDefined && f.exists(
          new org.apache.hadoop.fs.Path(s"$table/_constraints.json")))
        local += info("stale_constraints_file", "_constraints.json",
          "manifest carries the constraints field — the side file " +
            "is dead debris readers must ignore (safe to delete)")
      // bucket layout record (§2.2): a spec must decode and cover the
      // record's OWN segment set — anything else is a non-conforming
      // writer's claim. Readers suppress SPJ on a non-covering spec
      // (never a wrong co-location), so the degradation is WARN.
      cur.bucket.foreach { enc =>
        CommitLog.decodeBucketSpec(enc) match {
          case None => local += warn("bucket_spec_undecodable",
            s"v${cur.version}",
            "bucket field does not decode — the layout claim is " +
              "ignored (storage-partitioned joins fall back to " +
              "shuffles); re-run the bucketed OPTIMIZE")
          case Some(bs) =>
            val uuids = cur.segments.map(s =>
              s.substring(s.lastIndexOf('/') + 1)).toSet
            if (!uuids.forall(bs.byUuid.contains) ||
                !bs.byUuid.keySet.forall(uuids))
              local += warn("bucket_spec_mismatch", s"v${cur.version}",
                "bucket spec does not cover exactly the record's " +
                  "segment set (non-conforming writer) — readers " +
                  "suppress the SPJ claim; re-run the bucketed " +
                  "OPTIMIZE")
        }
      }
    }

    // ---- 4. row-level machinery: DV carry-forward, referenced dirs --
    snaps.toSeq.sliding(2).foreach {
      case Seq(a, b) =>
        if (a.dv.isDefined && b.dv.isEmpty && b.op != "restore" &&
            b.segments.exists(a.segments.toSet))
          local += err("dv_dropped", s"v${b.version}",
            s"v${a.version} carries a deletion vector, v${b.version} " +
              s"(op=${b.op}) keeps base segments but no vector — " +
              "deleted rows RESURRECT at and after this version")
      case _ => ()
    }
    // referenced dv/changes dirs must exist (driver-side: O(versions))
    snaps.foreach { s =>
      s.dv.filterNot(d =>
          f.exists(new org.apache.hadoop.fs.Path(d))).foreach(d =>
        local += err("dv_missing", d,
          s"v${s.version} references a deletion vector that does " +
            "not exist — every read of this version fails"))
      s.changes.filterNot(c =>
          f.exists(new org.apache.hadoop.fs.Path(c))).foreach(c =>
        local += warn("changes_missing", c,
          s"v${s.version}'s recorded CDC directory is gone — change " +
            "feeds crossing this version fail; content reads are " +
            "unaffected"))
    }

    // ---- 5. data/: orphans and staging debris (one listing) ---------
    val referenced = snaps.flatMap(_.segments).toSet
    val dataDir = new org.apache.hadoop.fs.Path(s"$table/data")
    if (f.exists(dataDir)) f.listStatus(dataDir).foreach { st =>
      val nm = st.getPath.getName
      val p = st.getPath.toUri.getPath
      if (nm.startsWith(".staging-"))
        local += info("staging_debris", nm,
          "crashed writer's staging dir — invisible, vacuum sweeps it")
      else if (!referenced.contains(p) &&
          !referenced.exists(_.endsWith(nm)))
        local += info("orphan_segment", nm,
          "referenced by no retained version (crashed or race-losing " +
            "writer) — harmless, vacuum reclaims it")
    }
    val localDf =
      local.toSeq.toDF("level", "code", "object", "detail")
    if (!deep || referenced.isEmpty) return localDf

    // ---- 6. deep: distributed per-segment checks ---------------------
    // existence + data files + sidecar grammar/era/tag, one executor
    // task per path batch — O(segments) stat calls NEVER touch the
    // driver, and findings stay distributed (union, no collect)
    val curSnap = snaps.lastOption
    val curSegs = curSnap.map(_.segments.toSet).getOrElse(Set.empty)
    // expected stats tag per PHYSICAL column name, from the recorded
    // schema (§5.1's tag table); absent schema ⇒ no tag expectations
    val tagByPhys: Map[String, String] =
      curSnap.flatMap(_.schema).map(CommitLog.decodeSchema).map(
        _.fields.flatMap { fl =>
          import org.apache.spark.sql.types._
          val tag = fl.dataType match {
            case ByteType | ShortType | IntegerType | LongType |
                 BooleanType => Some("long")
            case FloatType | DoubleType => Some("double")
            case StringType => Some("string")
            case DateType => Some("date")
            case TimestampType | TimestampNTZType => Some("ts")
            case _: DecimalType => Some("decimal")
            case _ => None
          }
          tag.map(CommitLog.physicalName(fl) -> _)
        }.toMap).getOrElse(Map.empty)
    val mapped = curSnap.exists(s =>
      s.mapping.contains("name") || (s.schema.map(CommitLog.decodeSchema)
        .exists(_.fields.exists(_.metadata
          .contains(CommitLog.PhysicalKey)))))
    val confB = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val segDs = spark.createDataset(
      referenced.toSeq.map(p => (p, curSegs.contains(p))))(
      org.apache.spark.sql.Encoders.product[(String, Boolean)])
      .repartition(math.min(referenced.size,
        spark.sparkContext.defaultParallelism).max(1))
    val deepDf = segDs.mapPartitions { it =>
      val conf = confB.value.value
      it.flatMap { case (seg, isCurrent) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[Finding]
        val p = new org.apache.hadoop.fs.Path(seg)
        val sfs = p.getFileSystem(conf)
        if (!sfs.exists(p))
          out += err("segment_missing", seg,
            (if (isCurrent) "referenced by the CURRENT version — " +
              "reads fail now"
            else "referenced by a retained version — time travel " +
              "to it fails"))
        else {
          val files = sfs.listStatus(p).toSeq
          val dataFiles = files.filter { st =>
            val n = st.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          }
          if (dataFiles.isEmpty)
            out += warn("segment_no_data_files", seg,
              "no data files (only markers/sidecars) — an empty " +
                "write or partial loss; reads serve zero rows here")
          files.find(_.getPath.getName == "_stats.json").foreach { st =>
            val txt = {
              val in = sfs.open(st.getPath)
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
            }
            if ("\"rows\"\\s*:\\s*\\d+".r.findFirstIn(txt).isEmpty)
              out += warn("sidecar_unparseable", seg,
                "_stats.json carries no rows field — ignored by " +
                  "readers (lost pruning, never lost rows)")
            else {
              val physicalKeys = txt.contains("\"keys\":\"physical\"")
              if (!physicalKeys && mapped)
                out += info("sidecar_legacy_keys", seg,
                  "pre-hardening sidecar on a column-mapped table — " +
                    "lookups restrict to hazard-filtered aliases " +
                    "(reduced pruning); OPTIMIZE rewrites upgrade it")
              // tag agreement with the recorded schema (§5.1: a
              // disagreeing probe MUST fail loudly — flag it first)
              if (physicalKeys)
                "\"((?:[^\"\\\\]|\\\\.)+)\"\\s*:\\s*\\{\"t\":\"(\\w+)\""
                  .r.findAllMatchIn(txt).foreach { m =>
                    val (k, t) = (m.group(1), m.group(2))
                    tagByPhys.get(k).filter(_ != t).foreach(exp =>
                      out += warn("sidecar_tag_mismatch", seg,
                        s"column '$k' recorded tag '$t' but the " +
                          s"schema implies '$exp' — range probes on " +
                          "it fail loudly until rewritten"))
                  }
            }
          }
        }
        out
      }
    }(org.apache.spark.sql.Encoders.product[Finding])
      .toDF("level", "code", "object", "detail")
    localDf.unionAll(deepDf)
  }

  /** Finding codes [[repair]] can resolve by dropping references
    * from the CURRENT snapshot. Everything else ERROR-level refuses:
    * protocol/schema/log corruption is not reference-droppable — a
    * repair commit could only paper over it. */
  private val Droppable = Set("segment_missing", "dv_missing")

  /** FSCK REPAIR (Delta's FSCK REPAIR TABLE): turn [[fsck]]'s
    * storage-loss findings into ONE transactional commit
    * (`op = "fsck_repair"`) that drops the CURRENT version's
    * references to storage that no longer exists — never touching a
    * single live byte:
    *
    *  - a referenced segment directory that is GONE leaves the
    *    segment list (its rows are lost to storage, not to the
    *    repair; every read of the table currently fails — afterwards
    *    reads serve exactly the SURVIVING rows);
    *  - a referenced deletion vector that is GONE drops from the
    *    record — the rows it subtracted come back (there is nothing
    *    left to subtract with; the alternative, dropping every
    *    segment the vector might have covered, destroys the table).
    *    The trade is explicit in the returned action rows.
    *
    * REFUSES when the shallow conformance pass reports any
    * ERROR-level finding outside those classes
    * (`protocol_unsupported`, schema/constraint/log corruption …):
    * those are not reference-droppable, and a repair that "succeeds"
    * over them would legitimize a broken log. Historical versions
    * are untouched — time travel to them keeps failing until vacuum
    * retires them (a new commit cannot rewrite immutable history).
    *
    * The repair is a REWRITE with no change record: change feeds
    * crossing it raise (skipRewrites consumes appends only), exactly
    * like merge — CDC cannot represent storage loss.
    *
    * Returns `(action, object, detail)` rows — empty = nothing to
    * repair, no commit. `dryRun = true` reports the same rows
    * without committing. */
  def repair(spark: SparkSession, table: String,
      dryRun: Boolean = false): DataFrame = {
    import spark.implicits._
    val shallow = fsck(spark, table, deep = false)
      .filter(org.apache.spark.sql.functions.col("level") === "ERROR")
      .collect()
    val blocking = shallow.filterNot(r => Droppable(r.getString(1)))
    if (blocking.nonEmpty) throw new IllegalStateException(
      "CommitLogFsck.repair: table has ERROR findings that are not " +
        "reference-droppable — " +
        blocking.map(r => s"${r.getString(1)}(${r.getString(2)})")
          .distinct.mkString(", ") +
        "; repair only drops references to missing storage. Fix the " +
        "log (upgrade the engine / RESTORE / UNSET the constraint) " +
        "first.")
    val f = CommitLog.fs(spark, table)
    CommitLog.transact(spark, table, "CommitLogFsck.repair") { tx =>
      val cur = tx.existing
      // distributed existence sweep over the CURRENT references —
      // the same executor-side stat pass the deep fsck runs
      val confB = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration))
      val missingSegs =
        if (cur.segments.isEmpty) Seq.empty[String]
        else spark.createDataset(cur.segments)(
            org.apache.spark.sql.Encoders.STRING)
          .repartition(math.min(cur.segments.size,
            spark.sparkContext.defaultParallelism).max(1))
          .mapPartitions { it =>
            val conf = confB.value.value
            it.filter { seg =>
              val p = new org.apache.hadoop.fs.Path(seg)
              !p.getFileSystem(conf).exists(p)
            }
          }(org.apache.spark.sql.Encoders.STRING).collect().toSeq
      val dvMissing = cur.dv.filterNot(d =>
        f.exists(new org.apache.hadoop.fs.Path(d)))
      val actions =
        missingSegs.map(s => ("drop_segment_ref", s,
          "segment directory is gone — its rows are lost to " +
            "storage; the reference leaves the table so reads " +
            "serve the surviving rows")) ++
        dvMissing.map(d => ("drop_dv_ref", d,
          "deletion vector is gone — rows it subtracted return " +
            "(nothing left to subtract with); re-delete if the " +
            "deletions must hold")).toSeq
      val report = actions.toDF("action", "object", "detail")
      if (actions.isEmpty || dryRun) CommitLog.Done(report)
      else CommitLog.Publish(CommitLog.Snapshot(cur.version + 1L,
        cur.segments.filterNot(missingSegs.toSet),
        cur.version, "fsck_repair", schema = cur.schema,
        dv = if (dvMissing.isDefined) None else cur.dv), report)
    }
  }

  /** One-row rollup of [[fsck]] — `(errors, warnings, infos, clean)`
    * for dashboards and the q-gate witnesses. */
  def fsckSummary(spark: SparkSession, table: String,
      deep: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    fsck(spark, table, deep).agg(
      sum(when(col("level") === "ERROR", 1L).otherwise(0L))
        .as("errors"),
      sum(when(col("level") === "WARN", 1L).otherwise(0L))
        .as("warnings"),
      sum(when(col("level") === "INFO", 1L).otherwise(0L))
        .as("infos"))
      .na.fill(0L)
      .withColumn("clean", col("errors") === 0L)
  }
}
