package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.functions.{col, lit}

import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.util.UUID

/** B27 — crash-atomic, snapshot-isolated mart publish.
  *
  * A dynamic partition overwrite (B15) converges on re-run, but a
  * reader CONCURRENT with it can observe a half-replaced partition:
  * the overwrite deletes and rewrites files in place. This sink closes
  * that gap with the manifest-commit pattern every serious lake format
  * uses (Iceberg/Delta snapshot
  * semantics, reduced to the minimum that parquet + a filesystem
  * rename can carry):
  *
  *  - every publish STAGES its partitioned data under a fresh
  *    `data/snap-<uuid>/` directory that no manifest references yet —
  *    a crash anywhere during staging leaves the table byte-identical
  *    (the orphan snapshot is invisible and vacuumable);
  *  - the COMMIT is a single atomic rename of a temp file to
  *    `_versions/v<N>.json`, whose body maps each live logical
  *    partition to the snapshot directory serving it (new partitions
  *    point at the new snapshot, untouched partitions keep their old
  *    pointers);
  *  - a READER resolves the highest committed version once, then reads
  *    only the directories that manifest names. Committed snapshots
  *    are immutable — nothing ever rewrites a directory an older
  *    manifest references — so every reader sees exactly one version:
  *    all-old or all-new, never a mix.
  *
  * On HDFS the rename is atomic by contract. On an object store the
  * same design holds with the manifest PUT made conditional
  * (if-none-match) — the data path never needs atomicity because data
  * is immutable once staged; only the one tiny manifest file does.
  * That is precisely why the commit is a manifest and not a directory
  * swap.
  *
  * Reference analog: data_to_db.py's archive step is the single-writer
  * publish this generalizes; the reference has no concurrent-reader
  * story at all (sqlite single file).
  */
object AtomicMart {

  private val VersionsDir = "_versions"
  private val DataDir = "data"

  /** Per-partition column bounds captured at stage time, the manifest's
    * DATA-SKIPPING index (Delta/Iceberg file-stats semantics, held at
    * dir granularity). `typ` picks the comparison domain: "n" compares
    * as numbers (BigDecimal over the rendered string), "s" compares
    * lexicographically (strings, ISO dates/timestamps). `nulls`/`rows`
    * (-1 = not captured; old manifests parse that way) extend the skip
    * surface to NULL predicates: `IS NOT NULL` skips all-null
    * partitions, `IS NULL` skips null-free ones, and an all-null
    * partition (min/max empty, nulls == rows) is skippable by ANY
    * value comparison — SQL comparisons against NULL never match. */
  final case class ColStat(typ: String, min: String, max: String,
                           nulls: Long = -1L, rows: Long = -1L)

  /** One live logical partition: values aligned with partCols, the
    * absolute directory that serves it, and optional column bounds
    * (absent = never skipped — older manifests parse as stat-less). */
  final case class Entry(values: Seq[String], dir: String,
                         stats: Map[String, ColStat] = Map.empty)

  /** B43 — COLUMN MAPPING (Delta's public columnMapping design, name
    * mode): one column's stable numeric `id` plus its immutable
    * PHYSICAL name (what parquet files and partition directories
    * carry). The LOGICAL name — what users query and `schemaDdl`
    * declares — is pure manifest metadata, so RENAME COLUMN is a
    * metadata-only commit and never touches a data file. Physical
    * names are never reused (a dropped column's physical name is
    * tombstoned into `burned`), which is what makes re-adding a
    * dropped logical name safe: the new column gets a FRESH generated
    * physical name (`_gc<id>`) that no retained or vacuumed file can
    * carry, so old values can never resurrect. */
  final case class ColMap(id: Long, logical: String, physical: String)

  /** `schemaDdl` is B42's SCHEMA VERSIONING surface: the table schema
    * THIS version declares, as a Spark DDL string (`a BIGINT, b
    * STRING`) over LOGICAL names. Each manifest pins the schema its
    * readers conform to — old versions keep reading with their own
    * (narrower) schema, the Delta time-travel-across-evolution
    * contract. None = a manifest written before schema tracking (reads
    * stay raw, full back-compat).
    * `colMap` = None means an unmapped table (logical ≡ physical, the
    * pre-B43 layout — full back-compat); Some(_) maps every declared
    * column. `maxColId` is monotone across commits so ids are never
    * reissued. `burned` is the PERSISTENT tombstone list (ADVICE r11):
    * column names that may still exist physically inside retained or
    * already-vacuumed snapshot files and must never be (re)assigned as
    * a physical name — carried forward by every commit, so unlike the
    * retained-manifest scan it survives vacuum. `txn` marks the commit
    * as part of a B44 multi-table transaction (idempotent replay). */
  final case class Manifest(version: Long, partCols: Seq[String], entries: Seq[Entry],
                            schemaDdl: Option[String] = None,
                            colMap: Option[Seq[ColMap]] = None,
                            maxColId: Long = 0L,
                            burned: Seq[String] = Nil,
                            txn: Option[String] = None)

  /** Logical → physical column name under `m`'s mapping (identity for
    * unmapped tables and for names the mapping does not know — which
    * makes an already-physical name a fixpoint; rename/add refuse
    * logical↔physical collisions so the fixpoint is unambiguous). */
  private[sources] def physOf(m: Manifest, name: String): String =
    m.colMap.fold(name)(_.find(_.logical == name).map(_.physical).getOrElse(name))

  private[sources] def logicalOf(m: Manifest, name: String): String =
    m.colMap.fold(name)(_.find(_.physical == name).map(_.logical).getOrElse(name))

  /** Manifest partCols are PHYSICAL (they are the directory layout);
    * this is the user-facing view. */
  private[sources] def logicalPartCols(m: Manifest): Seq[String] =
    m.partCols.map(logicalOf(m, _))

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- manifest (de)serialization: hand-rolled JSON, zero extra deps ----

  private[sources] def jq(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[sources] def render(m: Manifest): String = {
    val cols = m.partCols.map(jq).mkString("[", ",", "]")
    val entries = m.entries.map { e =>
      val stats =
        if (e.stats.isEmpty) ""
        else e.stats.toSeq.sortBy(_._1).map { case (c, s) =>
          val nullStats = if (s.rows >= 0) s""","nl":${s.nulls},"rw":${s.rows}""" else ""
          s"${jq(c)}:{\"t\":${jq(s.typ)},\"min\":${jq(s.min)},\"max\":${jq(s.max)}$nullStats}"
        }.mkString(""","stats":{""", ",", "}")
      s"""{"values":${e.values.map(jq).mkString("[", ",", "]")},"dir":${jq(e.dir)}$stats}"""
    }.mkString("[", ",", "]")
    val schema = m.schemaDdl.map(d => s""","schema":${jq(d)}""").getOrElse("")
    val colmap = m.colMap.map { cm =>
      cm.map(e => s"""{"i":${e.id},"n":${jq(e.logical)},"p":${jq(e.physical)}}""")
        .mkString(""","colmap":[""", ",", s"""],"maxcid":${m.maxColId}""")
    }.getOrElse(if (m.maxColId > 0) s""","maxcid":${m.maxColId}""" else "")
    val burned =
      if (m.burned.isEmpty) ""
      else m.burned.map(jq).mkString(""","burned":[""", ",", "]")
    val txn = m.txn.map(t => s""","txn":${jq(t)}""").getOrElse("")
    s"""{"version":${m.version},"partCols":$cols,"entries":$entries$schema$colmap$burned$txn}"""
  }

  // Escape-aware recursive-descent reader for the JSON subset `render`
  // emits (objects, arrays, strings, integers). A regex splitter here
  // silently mis-parsed manifests whose partition values contained '}'
  // or '],"dir"' — values are user data, so the parser must honor the
  // full escape grammar jq writes, not pattern-match around it.
  private[sources] sealed trait JVal
  private[sources] final case class JStr(s: String) extends JVal
  private[sources] final case class JNum(n: Long) extends JVal
  private[sources] final case class JArr(vs: Vector[JVal]) extends JVal
  private[sources] final case class JObj(fields: Map[String, JVal]) extends JVal

  private[sources] final class JReader(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    private def expect(c: Char): Unit = {
      ws()
      require(i < s.length && s(i) == c, s"manifest parse: expected '$c' at $i")
      i += 1
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          s(i) match {
            case 'n' => sb += '\n'
            case 'r' => sb += '\r'
            case 't' => sb += '\t'
            case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
            case c => sb += c
          }
        } else sb += s(i)
        i += 1
      }
      i += 1
      sb.result()
    }
    def value(): JVal = {
      ws()
      s(i) match {
        case '"' => JStr(str())
        case '{' =>
          i += 1; ws()
          val fields = Map.newBuilder[String, JVal]
          if (s(i) != '}') {
            var more = true
            while (more) {
              val k = str(); expect(':'); fields += k -> value(); ws()
              if (s(i) == ',') { i += 1; ws() } else more = false
            }
          }
          expect('}')
          JObj(fields.result())
        case '[' =>
          i += 1; ws()
          val vs = Vector.newBuilder[JVal]
          if (s(i) != ']') {
            var more = true
            while (more) {
              vs += value(); ws()
              if (s(i) == ',') { i += 1; ws() } else more = false
            }
          }
          expect(']')
          JArr(vs.result())
        case _ =>
          val start = i
          while (i < s.length && (s(i).isDigit || s(i) == '-')) i += 1
          JNum(s.substring(start, i).toLong)
      }
    }
  }

  private[sources] def parse(body: String, version: Long): Manifest = {
    val root = new JReader(body).value().asInstanceOf[JObj].fields
    val partCols = root("partCols").asInstanceOf[JArr].vs.map(_.asInstanceOf[JStr].s)
    val entries = root("entries").asInstanceOf[JArr].vs.map { v =>
      val o = v.asInstanceOf[JObj].fields
      val stats = o.get("stats").map(_.asInstanceOf[JObj].fields.map { case (c, sv) =>
        val so = sv.asInstanceOf[JObj].fields
        def optNum(k: String) = so.get(k).map(_.asInstanceOf[JNum].n).getOrElse(-1L)
        c -> ColStat(so("t").asInstanceOf[JStr].s,
          so("min").asInstanceOf[JStr].s, so("max").asInstanceOf[JStr].s,
          optNum("nl"), optNum("rw"))
      }).getOrElse(Map.empty[String, ColStat])
      Entry(
        o("values").asInstanceOf[JArr].vs.map(_.asInstanceOf[JStr].s),
        o("dir").asInstanceOf[JStr].s,
        stats)
    }
    val schemaDdl = root.get("schema").map(_.asInstanceOf[JStr].s)
    val colMap = root.get("colmap").map(_.asInstanceOf[JArr].vs.map { v =>
      val o = v.asInstanceOf[JObj].fields
      ColMap(o("i").asInstanceOf[JNum].n,
        o("n").asInstanceOf[JStr].s, o("p").asInstanceOf[JStr].s)
    }.toSeq)
    val maxColId = root.get("maxcid").map(_.asInstanceOf[JNum].n).getOrElse(0L)
    val burned = root.get("burned")
      .map(_.asInstanceOf[JArr].vs.map(_.asInstanceOf[JStr].s).toSeq).getOrElse(Nil)
    val txn = root.get("txn").map(_.asInstanceOf[JStr].s)
    Manifest(version, partCols, entries, schemaDdl, colMap, maxColId, burned, txn)
  }

  /** Highest committed manifest version, if any. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val f = fs(spark, path)
    val dir = new Path(path, VersionsDir)
    if (!f.exists(dir)) return None
    val versions = f.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong
      }
    if (versions.isEmpty) None else Some(versions.max)
  }

  private[sources] def manifestAt(spark: SparkSession, path: String, v: Long): Manifest = {
    val f = fs(spark, path)
    val file = new Path(path, f"$VersionsDir/v$v%09d.json")
    require(f.exists(file), s"no committed version $v at $path")
    val in = f.open(file)
    val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    parse(body, v)
  }

  private[sources] def readManifest(spark: SparkSession, path: String): Option[Manifest] =
    currentVersion(spark, path).map(manifestAt(spark, path, _))

  /** The comparison domain for a column's stats, or None for types the
    * skipper does not index (binary, arrays, …). ISO-rendered dates and
    * timestamps order lexicographically, so they share "s". */
  private def statDomain(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => Some("n")
      case _: DecimalType => Some("n")
      case StringType | DateType | TimestampType | TimestampNTZType => Some("s")
      case _ => None
    }
  }

  /** Stage the batch's data under a fresh immutable snapshot dir and
    * return the partition entries it carries. Public so the crash test
    * can stop HERE (stage, no commit) and assert readers still see the
    * old version.
    *
    * `statCols` names data columns whose per-partition min/max are
    * captured into the manifest for [[readFiltered]] data skipping: ONE
    * extra partial-aggregated pass over the batch (map-side combine,
    * partition-count-sized result), paid once at write time so every
    * later selective read can prune without listing a file. A column
    * a partition holds only NULLs of gets empty bounds with its null
    * count, so any value window skips that partition.
    * Pairs with z-order layout (I11): clustering the batch on the
    * stat columns before publishing tightens each dir's [min,max] and
    * turns the skip from "sometimes" into "almost always". */
  def stage(mart: DataFrame, path: String, partCols: Seq[String],
            statCols: Seq[String] = Nil,
            retracts: Set[Seq[String]] = Set.empty,
            mergeSchema: Boolean = false): (String, Seq[Entry]) = {
    require(partCols.nonEmpty, "AtomicMart is a partitioned sink; give >=1 partition column")
    val spark = mart.sparkSession
    val existing = readManifest(spark, path)
    // B42: the schema gate shares stage's funnel position — an
    // unapproved evolution refuses BEFORE any file is written.
    mergedSchemaDdlFrom(existing, mart.schema, mergeSchema)
    // B38: the table's declared constraint suite gates EVERY commit
    // path here — stage is the one funnel publish / publishReplacing /
    // merge / epoch sink / erasure all share — and it refuses BEFORE
    // any file is written, so a violation leaves no orphan snapshot.
    // `retracts` names the live partitions this commit will REPLACE, so
    // table-wide checks (Unique) compare the staged frame only against
    // rows that stay live — a replace/erasure restaging its own rows is
    // not a duplicate of itself.
    MartConstraints.enforce(spark, path, mart, retracts)
    val snapDir = s"$path/$DataDir/snap-${UUID.randomUUID()}"
    // B43: files and partition directories carry PHYSICAL names. For an
    // unmapped table (colMap=None) both renames are identity and this
    // is byte-for-byte the pre-B43 write. A batch column the mapping
    // does not know yet (a mergeSchema add) keeps its logical name —
    // commit() registers it with physical = logical, so the on-disk
    // name and the mapping agree by construction.
    val physMart = existing.filter(_.colMap.isDefined).fold(mart) { m =>
      mart.select(mart.columns.map(c => col(c).as(physOf(m, c))).toIndexedSeq: _*)
    }
    val physPartCols = existing.fold(partCols)(m => partCols.map(physOf(m, _)))
    physMart.write.partitionBy(physPartCols: _*).parquet(snapDir)
    val f = fs(spark, path)
    // Walk the partition tree the write produced: each leaf dir is one
    // logical partition, its values parsed from the col=value segments.
    def leaves(dir: Path, depth: Int, acc: Seq[String]): Seq[Entry] =
      if (depth == partCols.length) Seq(Entry(acc, dir.toString))
      else f.listStatus(dir).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          val v = URLDecoder.decode(s.getPath.getName.split("=", 2)(1), "UTF-8")
          leaves(s.getPath, depth + 1, acc :+ v)
        }
    val plain = leaves(new Path(snapDir), 0, Nil)
    if (statCols.isEmpty) return (snapDir, plain)

    import org.apache.spark.sql.functions.{min => fmin, max => fmax}
    val schema = mart.schema
    // stats are keyed by PHYSICAL name — they describe the files, and
    // physical names are rename-stable, so skipping keeps working
    // across a B43 RENAME COLUMN (readers translate logical→physical
    // before matching)
    val indexed = statCols.flatMap { c =>
      statDomain(schema(c).dataType)
        .map(existing.fold(c)(physOf(_, c)) -> _)
    }
    import org.apache.spark.sql.functions.{count => fcount, lit => flit}
    val aggs = indexed.flatMap { case (c, _) =>
      Seq(fmin(col(c)).cast("string").as(s"__min_$c"),
        fmax(col(c)).cast("string").as(s"__max_$c"),
        fcount(col(c)).as(s"__cnt_$c"))
    } :+ fcount(flit(1)).as("__rows")
    val statRows = physMart
      .groupBy(physPartCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byValues: Map[Seq[String], Map[String, ColStat]] = statRows.map { r =>
      val values = partCols.indices.map(i => Option(r.getString(i)).getOrElse("__HIVE_DEFAULT_PARTITION__"))
      val rows = r.getAs[Long]("__rows")
      val stats = indexed.map { case (c, t) =>
        val lo = r.getAs[String](s"__min_$c")
        val hi = r.getAs[String](s"__max_$c")
        val nulls = rows - r.getAs[Long](s"__cnt_$c")
        // all-null partitions used to get NO stat (conservative); with
        // null counts they get an empty-bounds stat that value windows
        // AND null windows can both skip on
        if (lo == null || hi == null) c -> ColStat(t, "", "", nulls, rows)
        else c -> ColStat(t, lo, hi, nulls, rows)
      }.toMap
      (values: Seq[String]) -> stats
    }.toMap
    (snapDir, plain.map(e => e.copy(stats = byValues.getOrElse(e.values, Map.empty))))
  }

  /** B42 — SCHEMA EVOLUTION gate + merge (Delta's `mergeSchema` /
    * ADD COLUMN public semantics). Returns the schema DDL the pending
    * commit should declare:
    *
    *  - no declared table schema yet (first publish, or a legacy
    *    table): the batch's own schema — every commit from now on
    *    pins one;
    *  - batch ⊆ table: the table schema unchanged (a batch may OMIT
    *    columns — its snapshot simply lacks them and reads conform
    *    with NULLs, the nullable-write case);
    *  - batch adds columns: refused unless `mergeSchema` — then the
    *    table schema plus the new fields, appended in batch order;
    *  - same name, different type: always refused. Implicit type
    *    widening is a silent rewrite of history; an intentional type
    *    change is a new column + backfill, stated in the plan.
    *
    * Driver-only string/metadata work — nothing here touches data;
    * `base` is the manifest the commit builds on. */
  private[sources] def mergedSchemaDdlFrom(base: Option[Manifest],
      batch: org.apache.spark.sql.types.StructType, mergeSchema: Boolean): String = {
    import org.apache.spark.sql.types.StructType
    base.flatMap(_.schemaDdl) match {
      case None => batch.toDDL
      case Some(ddl) =>
        val table = StructType.fromDDL(ddl)
        val tTypes = table.map(f => f.name -> f.dataType).toMap
        val conflicts = batch.filter(f => tTypes.get(f.name).exists(_ != f.dataType))
        require(conflicts.isEmpty,
          s"schema evolution cannot change column type(s): " +
            conflicts.map(f => s"${f.name} ${tTypes(f.name).sql} -> ${f.dataType.sql}")
              .mkString(", ") + " — add a new column and backfill instead")
        val added = batch.filterNot(f => tTypes.contains(f.name))
        if (added.isEmpty) ddl
        else if (!mergeSchema)
          throw new IllegalArgumentException(
            s"batch adds column(s) ${added.map(_.name).mkString(", ")} not in the " +
              s"table schema — publish with mergeSchema=true to evolve")
        else {
          // RESURRECTION gate for batch-carried adds (a mergeSchema add
          // writes the new column into files under its own name, so
          // unlike the metadata-only addColumn it cannot take a fresh
          // generated physical name): refuse tombstoned names — old
          // snapshot files may still carry their values (the persistent
          // `burned` list, which unlike a retained-manifest scan
          // survives vacuum) — plus live-physical collisions and the
          // reserved generated pattern.
          val m = base.get
          val livePhys = m.colMap.map(_.map(_.physical).toSet).getOrElse(Set.empty[String])
          val bad = added.map(_.name).filter(n =>
            m.burned.contains(n) || livePhys.contains(n) || n.matches("_gc\\d+"))
          require(bad.isEmpty,
            s"column name(s) ${bad.mkString(", ")} were previously dropped (or " +
              "collide with a physical/reserved name) — old snapshot files may " +
              "still carry their values; use addColumn (metadata-only, takes a " +
              "fresh physical name) or pick fresh names")
          StructType(table.fields ++ added).toDDL
        }
    }
  }

  /** B42 — ALTER TABLE ADD COLUMN: a METADATA-ONLY commit. The new
    * manifest keeps every partition pointer byte-identically (zero
    * data I/O at any scale) and declares the widened schema; reads of
    * the new version conform existing rows with NULLs, older versions
    * keep their own schema. Plain `commit` with nothing staged gives
    * the OCC loop for free. */
  def addColumn(spark: SparkSession, path: String, name: String, ddlType: String): Long = {
    import org.apache.spark.sql.types.StructType
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val table = StructType.fromDDL(m.schemaDdl.getOrElse(
      throw new IllegalArgumentException(
        s"table at $path predates schema tracking — republish once to pin a schema")))
    require(!table.fieldNames.contains(name), s"column $name already exists")
    // Reserved generated-physical pattern (ADVICE r12): letting a
    // logical "_gcN" in would make a later auto-generated physical
    // "_gcN" ambiguous with it; renameColumn and mergedSchemaDdlFrom
    // already gate this — addColumn must too (both branches).
    require(!name.matches("_gc\\d+"),
      s"column name $name matches the reserved generated-physical pattern _gc<id>")
    val widened = StructType.fromDDL(s"$name $ddlType") // validates the type eagerly
    // ADVICE r13: fromDDL happily parses "STRING, smuggled BIGINT" into
    // TWO fields, but every guard above (duplicate / reserved-_gc /
    // tombstone) and the colMap assignment below ran for `name` alone —
    // a multi-field ddlType would append unguarded columns (on unmapped
    // tables even bypassing the resurrection tombstone). One call adds
    // exactly one column; callers add several columns with several calls.
    require(widened.fields.length == 1,
      s"ddl type '$ddlType' parses to ${widened.fields.length} fields — " +
        "addColumn adds exactly one column per call")
    val widenedDdl = StructType(table.fields ++ widened.fields).toDDL
    m.colMap match {
      case Some(cm) =>
        // B43 mapped table: a fresh id + generated physical name makes
        // ANY logical name safe to (re)use — even a previously dropped
        // one. The column's values can only come from writes that
        // happen AFTER this commit, which write under `_gc<id>`; no
        // retained or vacuumed file anywhere carries that physical
        // name (ids are monotone and burned physicals are skipped), so
        // resurrection is impossible by construction.
        require(!cm.exists(_.physical == name),
          s"column name $name collides with a live physical column name")
        var nid = math.max(m.maxColId, cm.map(_.id).max) + 1
        var phys = s"_gc$nid"
        while (m.burned.contains(phys) || cm.exists(_.physical == phys)) {
          nid += 1; phys = s"_gc$nid"
        }
        commit(spark, path, Nil, m.partCols, schemaDdl = Some(widenedDdl),
          schemaBasis = Some(m.schemaDdl), colMap = Some(cm :+ ColMap(nid, name, phys)))
      case None =>
        // RESURRECTION guard, unmapped table: snapshot files written
        // before a DROP COLUMN still physically carry the dropped
        // column, so re-adding the same name would read those stale
        // values back as live data. The persistent `burned` tombstone
        // list is the durable form (survives manifest vacuum — ADVICE
        // r11); the retained-manifest scan still backstops drops made
        // before tombstones existed.
        require(!m.burned.contains(name),
          s"column name $name was previously declared and dropped (tombstoned) — " +
            "old snapshot files may still carry its values and re-adding it would " +
            "resurrect them; rename the table to column mapping (renameColumn " +
            "enables it) or pick a fresh name")
        require(!everDeclared(spark, path).contains(name),
          s"column name $name was previously declared and dropped — old snapshot " +
            "files still carry its values, so re-adding it would resurrect them; " +
            "pick a fresh name")
        commit(spark, path, Nil, m.partCols, schemaDdl = Some(widenedDdl),
          schemaBasis = Some(m.schemaDdl))
    }
  }

  /** B43 — ALTER TABLE RENAME COLUMN: a METADATA-ONLY commit via
    * column-mapping ids (Delta's public columnMapping design). The
    * first rename on a table AUTO-ENABLES mapping with identity ids
    * over the declared schema (existing physical names stay exactly
    * what the files carry — Delta's upgrade path); the rename itself
    * only swaps the LOGICAL name in `schemaDdl` + `colMap`. Every
    * read path honors it through [[conform]]'s logical←physical
    * projection; data skipping keeps working because stats and
    * partition layout are keyed by the (immutable) physical name;
    * time travel reads each version under ITS OWN manifest's names,
    * so old versions keep the old name; the CDF across a rename is
    * EMPTY (no partition pointer moved — the diff sees no change).
    * Partition columns rename like any other column: the directory
    * layout carries the physical name, which never changes. */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Long = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val table = StructType.fromDDL(m.schemaDdl.getOrElse(
      throw new IllegalArgumentException(
        s"table at $path predates schema tracking — republish once to pin a schema")))
    require(table.fieldNames.contains(from), s"no column $from to rename")
    require(!table.fieldNames.contains(to), s"column $to already exists")
    require(!to.matches("_gc\\d+"),
      s"$to matches the reserved generated-physical-name pattern")
    val cm = m.colMap.getOrElse(
      table.fields.zipWithIndex.map { case (f2, i) => ColMap(i + 1L, f2.name, f2.name) }.toSeq)
    // a logical name equal to ANOTHER column's physical name would make
    // the logical↔physical fixpoint ambiguous (renaming onto a burned
    // name is safe, though: reads select by OUR physical, never by the
    // new logical, so tombstoned file columns stay untouched)
    require(!cm.exists(e => e.physical == to && e.logical != from),
      s"$to collides with a live physical column name")
    val cm2 = cm.map(e => if (e.logical == from) e.copy(logical = to) else e)
    val renamed = StructType(table.fields.map(f =>
      if (f.name == from) StructField(to, f.dataType, f.nullable, f.metadata) else f))
    commit(spark, path, Nil, m.partCols, schemaDdl = Some(renamed.toDDL),
      schemaBasis = Some(m.schemaDdl), colMap = Some(cm2))
  }

  /** B42 — ALTER TABLE DROP COLUMN: the symmetric metadata-only
    * commit. The physical column stays in the immutable snapshot files
    * (old versions still read it — their manifests still declare it);
    * the new version's conform simply stops projecting it. Partition
    * columns cannot drop (they ARE the layout). */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    import org.apache.spark.sql.types.StructType
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    require(!m.partCols.contains(name), s"$name is a partition column — cannot drop")
    val table = StructType.fromDDL(m.schemaDdl.getOrElse(
      throw new IllegalArgumentException(
        s"table at $path predates schema tracking — republish once to pin a schema")))
    require(table.fieldNames.contains(name), s"no column $name to drop")
    val kept = StructType(table.fields.filterNot(_.name == name))
    require(kept.fields.nonEmpty, "cannot drop the last data column")
    // Tombstone the column's PHYSICAL name into the manifest-carried
    // `burned` list (ADVICE r11): live snapshot files keep carrying the
    // dropped column physically while the drop is metadata-only, and
    // the old retained-manifest scan decayed at the vacuum horizon —
    // burned is carried forward by every commit, so the guard is
    // actually permanent.
    m.colMap match {
      case Some(cm) =>
        val dropped = cm.find(_.logical == name).map(_.physical).getOrElse(name)
        commit(spark, path, Nil, m.partCols, schemaDdl = Some(kept.toDDL),
          schemaBasis = Some(m.schemaDdl),
          colMap = Some(cm.filterNot(_.logical == name)), burnedAdd = Set(dropped))
      case None =>
        commit(spark, path, Nil, m.partCols, schemaDdl = Some(kept.toDDL),
          schemaBasis = Some(m.schemaDdl), burnedAdd = Set(name))
    }
  }

  /** Every column name any RETAINED manifest ever declared. Bounded by
    * the retained-version count (vacuum's horizon), driver-only. */
  private def everDeclared(spark: SparkSession, path: String): Set[String] = {
    import org.apache.spark.sql.types.StructType
    val f = fs(spark, path)
    val dir = new Path(path, VersionsDir)
    if (!f.exists(dir)) return Set.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .flatMap(v => manifestAt(spark, path, v).schemaDdl)
      .flatMap(d => StructType.fromDDL(d).fieldNames)
      .toSet
  }

  /** Conform a raw entry read to the manifest's declared schema:
    * missing columns materialize as typed NULLs (rows written before
    * an ADD COLUMN / mergeSchema evolution), and column order follows
    * the declaration. Schema-less manifests read raw (back-compat).
    * A zero-entry table with a schema reads as an EMPTY frame OF that
    * schema rather than column-less. */
  private[sources] def conform(spark: SparkSession, df: DataFrame, m: Manifest): DataFrame =
    m.schemaDdl.fold(df) { ddl =>
      import org.apache.spark.sql.types.StructType
      val schema = StructType.fromDDL(ddl)
      if (df.columns.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        val have = df.columns.toSet
        // Cast every column to its DECLARED type (schema-on-read): the
        // raw read restores partition columns from directory names via
        // partition-type INFERENCE ("2021-03-01" comes back DATE even
        // when written STRING), and the declared write-side schema is
        // the round-trip truth. Columns beyond the declaration are
        // dropped — the declared schema IS the read contract. Under
        // B43 column mapping the files carry PHYSICAL names; the
        // declared (logical) name is restored here, which is the one
        // place every read path funnels through — so RENAME COLUMN is
        // honored by read/readVersion/readWhere/readFiltered/CDF/DML
        // alike.
        df.select(schema.fields.map { f =>
          val phys = physOf(m, f.name)
          (if (have(phys)) col(phys) else lit(null)).cast(f.dataType).as(f.name)
        }.toSeq: _*)
      }
    }

  /** Atomically claim manifest version `v` with `body`: write a temp
    * file, then create-if-absent the version file. Returns false if
    * another writer claimed `v` first — the loser's temp is removed.
    *
    * The primitive must be CREATE-IF-ABSENT, not plain rename: POSIX
    * rename(2) silently overwrites an existing destination, so on a
    * local filesystem two racing renames would BOTH "succeed" and one
    * commit would vanish. link(2) is the POSIX atomic create-if-absent
    * (EEXIST loses); HDFS rename-without-overwrite is atomic by
    * contract; an object store uses a conditional PUT
    * (if-none-match) on the same one manifest file. */
  private[sources] def claimVersion(f: FileSystem, path: String, body: String, v: Long): Boolean = {
    f.mkdirs(new Path(path, VersionsDir))
    val tmp = new Path(path, s"$VersionsDir/.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dest = new Path(path, f"$VersionsDir/v$v%09d.json")
    val won =
      if ("file" == Option(f.getUri.getScheme).getOrElse("")) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !f.exists(dest) && f.rename(tmp, dest)
    if (f.exists(tmp)) f.delete(tmp, false)
    won
  }

  /** Thrown when optimistic-concurrency rebase finds that a concurrent
    * commit replaced one of THIS commit's partitions — the one race
    * that cannot be merged mechanically (last-writer-wins would
    * silently drop a publish). */
  final class PartitionConflictException(msg: String)
    extends RuntimeException(msg)

  /** Commit staged entries: next manifest = previous entries whose
    * partition values are NOT republished here (and not in `drops`) +
    * the staged entries. `drops` retracts partitions even when nothing
    * re-stages them — the erasure case, where a partition's every row
    * belonged to the erased subject and the "replacement" is nothing.
    *
    * MULTI-WRITER (optimistic concurrency, the Delta/Iceberg commit
    * loop, public semantics): losing the version-claim race does NOT
    * discard the batch. The loser re-reads the latest manifest,
    * re-applies its kept/staged merge on top, and claims the next
    * version — commits to DISJOINT partition sets serialize in some
    * order and all land. The rebase only refuses — loudly, with
    * [[PartitionConflictException]] — when a concurrent commit touched
    * one of THIS commit's partitions (the entry for a replaced
    * partition changed under us), because then two writers produced
    * the same partition and a silent winner would lose data.
    *
    * `baseVersion` is the snapshot the writer READ when it derived
    * `staged` (a merge/erasure reads the table first). Declaring it
    * widens the conflict check to everything committed since that
    * read, exactly like Delta's read-snapshot tracking; leaving it
    * None checks only from commit-entry onward (blind appends, where
    * staged data derives from nothing in the table).
    *
    * `schemaBasis` (ADVICE r11 TOCTOU fix) declares the table schema
    * the caller READ when it derived `schemaDdl` (Some(None) = "table
    * had no schema yet"). The check runs on EVERY attempt — the first
    * claim-win included, closing the window where a commit that wins
    * outright silently re-declares a schema derived before a
    * concurrent ADD/DROP/RENAME landed (which would revert it). None
    * skips the check (callers that declare no schema).
    *
    * `colMap` replaces the mapping outright (B43 DDL commits); None
    * carries the base's forward, auto-extended with physical=logical
    * entries for any declared column it does not know (the mergeSchema
    * batch-add case — gated for tombstone collisions in
    * [[mergedSchemaDdlFrom]] before any file staged). `burnedAdd`
    * appends to the persistent tombstone list. `txn` stamps the commit
    * as one leg of a B44 multi-table transaction. */
  def commit(spark: SparkSession, path: String, staged: Seq[Entry], partCols: Seq[String],
             drops: Set[Seq[String]] = Set.empty, baseVersion: Option[Long] = None,
             schemaDdl: Option[String] = None,
             schemaBasis: Option[Option[String]] = None,
             colMap: Option[Seq[ColMap]] = None,
             burnedAdd: Set[String] = Set.empty,
             txn: Option[String] = None,
             maxRetries: Int = 50): Long = {
    val f = fs(spark, path)
    val replaced = staged.map(_.values).toSet ++ drops
    def mine(m: Option[Manifest]): Map[Seq[String], String] =
      m.map(_.entries).getOrElse(Nil)
        .filter(e => replaced.contains(e.values)).map(e => e.values -> e.dir).toMap
    def conflict(a: Option[Manifest], b: Option[Manifest]): Unit =
      if (mine(a) != mine(b))
        throw new PartitionConflictException(
          s"concurrent commit replaced partition(s) " +
            s"${(mine(a).keySet ++ mine(b).keySet).filter(k => mine(a).get(k) != mine(b).get(k)).mkString(", ")} " +
            s"at $path — same-partition writes do not auto-merge")
    var base = readManifest(spark, path)
    baseVersion.foreach { v =>
      if (!base.map(_.version).contains(v))
        conflict(Some(manifestAt(spark, path, v)), base)
    }
    var attempt = 0
    while (true) {
      // ADVICE r11 TOCTOU: validate the schema basis BEFORE the claim,
      // first attempt included — a commit that wins the version race
      // outright must still refuse when the schema it derived from has
      // moved under it (the lost-CAS-only guard below fires too late
      // for that case).
      schemaBasis.foreach { b =>
        if (base.flatMap(_.schemaDdl) != b)
          throw new PartitionConflictException(
            s"concurrent schema change at $path — the declared schema was " +
              "derived from a stale base; re-derive and retry")
      }
      // partCols arrive in either logical or physical form; normalize
      // to physical (the manifest's form — physOf is identity on
      // physical names and on unmapped tables)
      val physPC = base.fold(partCols)(m => partCols.map(physOf(m, _)))
      base.foreach { m =>
        require(m.partCols == physPC,
          s"partition columns changed: table has ${m.partCols}, publish has $partCols")
      }
      val kept = base.map(_.entries).getOrElse(Nil).filterNot(e => replaced.contains(e.values))
      val next = base.map(_.version + 1).getOrElse(0L)
      // B42: a commit declaring no schema carries the base's forward —
      // re-resolved each rebase so a concurrent evolution is kept
      val nextSchema = schemaDdl.orElse(base.flatMap(_.schemaDdl))
      // B43: carry (or replace) the column mapping; auto-register any
      // declared column the mapping does not know with physical =
      // logical — exactly what stage() wrote into the files
      val cm0 = colMap.orElse(base.flatMap(_.colMap))
      val baseBurned = base.map(_.burned).getOrElse(Nil)
      val nextBurned = baseBurned ++ (burnedAdd -- baseBurned.toSet).toSeq.sorted
      val baseMax = math.max(base.map(_.maxColId).getOrElse(0L),
        cm0.map(_.foldLeft(0L)((a, e) => math.max(a, e.id))).getOrElse(0L))
      val (nextCm, nextMax) = cm0 match {
        case None => (None, baseMax)
        case Some(cm) =>
          val known = cm.map(_.logical).toSet
          val declared = nextSchema.map(d =>
            org.apache.spark.sql.types.StructType.fromDDL(d).fieldNames.toSeq).getOrElse(Nil)
          var nid = baseMax
          val auto = declared.filterNot(known).map { n => nid += 1; ColMap(nid, n, n) }
          require(auto.forall(e => !nextBurned.contains(e.physical)),
            s"auto-mapped column(s) ${auto.map(_.logical).mkString(", ")} collide " +
              "with tombstoned physical names — use addColumn or pick fresh names")
          (Some(cm ++ auto), nid)
      }
      if (claimVersion(f, path,
          render(Manifest(next, physPC, kept ++ staged, nextSchema,
            nextCm, nextMax, nextBurned, txn)), next))
        return next
      attempt += 1
      if (attempt > maxRetries)
        throw new IllegalStateException(
          s"commit at $path still losing the version race after $maxRetries rebases")
      val latest = readManifest(spark, path)
      // Rebase guard: OUR partitions must be untouched between the
      // manifest we merged against and the one that beat us.
      conflict(base, latest)
      // B42 metadata guard (Delta's MetadataChangedException): a commit
      // DECLARING a schema lost the race to a commit that changed the
      // schema — re-declaring ours would silently revert theirs.
      if (schemaDdl.isDefined
          && latest.flatMap(_.schemaDdl) != base.flatMap(_.schemaDdl))
        throw new PartitionConflictException(
          s"concurrent schema change at $path — re-derive and retry the publish")
      base = latest
    }
    throw new IllegalStateException("unreachable")
  }

  /** Publish one batch atomically: stage, then manifest-commit.
    *
    * commit() implicitly REPLACES live partitions whose values match
    * the staged ones, so on a Unique-constrained table the staged keys
    * must NOT be compared against rows this very commit retracts — a
    * legal re-publish of an existing partition (the B15 corrected-day
    * rerun) would be falsely refused as a cross-batch duplicate of
    * itself. The retract set (live ∩ staged partition values) costs
    * one extra distinct pass over the batch, paid only when the table
    * actually declares constraints and already has live entries. */
  def publish(mart: DataFrame, path: String, partCols: Seq[String],
              statCols: Seq[String] = Nil, mergeSchema: Boolean = false): Long = {
    val spark = mart.sparkSession
    val base = readManifest(spark, path)
    val ddl = mergedSchemaDdlFrom(base, mart.schema, mergeSchema)
    val live = base.map(_.entries.map(_.values).toSet)
      .getOrElse(Set.empty[Seq[String]])
    val retracts =
      if (live.isEmpty || MartConstraints.get(spark, path).isEmpty)
        Set.empty[Seq[String]]
      else {
        val staged = mart
          .select(partCols.map(c => col(c).cast("string").as(c)): _*)
          .distinct().collect()
          .map(r => partCols.indices
            .map(i => Option(r.getString(i)).getOrElse("__HIVE_DEFAULT_PARTITION__")): Seq[String])
          .toSet
        live.intersect(staged)
      }
    val (_, entries) = stage(mart, path, partCols, statCols, retracts, mergeSchema)
    commit(spark, path, entries, partCols, schemaDdl = Some(ddl),
      schemaBasis = Some(base.flatMap(_.schemaDdl)))
  }

  /** B15 — the daily fraud-mart publish keyed (rule, batch_date): a
    * re-run of a day replaces only that day's partitions. */
  def publishDay(mart: DataFrame, path: String): Long =
    publish(mart, path, Seq("rule", "batch_date"))

  /** F35 — EXACTLY-ONCE epoch publish, the foreachBatch sink contract:
    * partition the batch by `partCols` PLUS its epoch id, stage, then
    * commit retracting every live partition already carrying this
    * epoch — a prior attempt's output. foreachBatch is at-least-once
    * (a crash between sink write and checkpoint advance replays the
    * epoch); because the replay REPLACES its own epoch partitions in
    * one manifest commit instead of appending beside them, the mart
    * converges to exactly-once no matter where the previous attempt
    * died: before stage (nothing visible), between stage and commit
    * (orphan snapshot, invisible, vacuumed later), or after commit
    * (the retraction swaps the old epoch out atomically). Readers stay
    * snapshot-isolated throughout, as with every other commit here. */
  def publishEpoch(batch: DataFrame, path: String, partCols: Seq[String],
                   epochId: Long): Long = {
    val spark = batch.sparkSession
    require(!partCols.contains("epoch"), "'epoch' is the sink's own partition column")
    val all = partCols :+ "epoch"
    val withEpoch = batch.withColumn("epoch", lit(epochId.toString))
    val base = readManifest(spark, path)
    val stale = base.map(_.entries).getOrElse(Nil)
      .filter(_.values.last == epochId.toString).map(_.values)
    val ddl = mergedSchemaDdlFrom(base, withEpoch.schema, mergeSchema = false)
    val (_, entries) = stage(withEpoch, path, all, retracts = stale.toSet)
    commit(spark, path, entries, all, drops = stale.toSet, schemaDdl = Some(ddl),
      schemaBasis = Some(base.flatMap(_.schemaDdl)))
  }

  /** Publish that REPLACES an explicit partition set: every partition
    * in `replaced` is retracted, then whatever `mart` stages (a subset
    * of `replaced`, possibly empty for some partitions) is added. The
    * erasure/compaction primitive: "these partitions are now exactly
    * this data — including none". */
  def publishReplacing(mart: DataFrame, path: String, partCols: Seq[String],
                       replaced: Seq[Seq[String]],
                       baseVersion: Option[Long] = None,
                       statCols: Seq[String] = Nil,
                       mergeSchema: Boolean = false): Long = {
    val base = readManifest(mart.sparkSession, path)
    val ddl = mergedSchemaDdlFrom(base, mart.schema, mergeSchema)
    val (_, entries) = stage(mart, path, partCols, statCols, replaced.toSet, mergeSchema)
    val extra = entries.map(_.values).filterNot(replaced.contains)
    require(extra.isEmpty,
      s"staged data carries partitions outside the replaced set: $extra")
    commit(mart.sparkSession, path, entries, partCols, replaced.toSet, baseVersion,
      schemaDdl = Some(ddl), schemaBasis = Some(base.flatMap(_.schemaDdl)))
  }

  /** Snapshot-isolated read: binds to the highest committed version at
    * CALL time and reads only the directories that manifest names.
    * Partition columns are restored from directory names via basePath
    * (all of one snapshot's leaves share their snapshot root). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    conform(spark, readEntries(spark, m.entries), m)
  }

  /** B31 — TIME TRAVEL: read the table exactly as version `v` committed
    * it. Free by construction: every commit's manifest is an immutable
    * file and committed snapshots are never rewritten, so any retained
    * version reconstructs byte-identically. The one caveat is the same
    * retention contract every lake format carries: [[vacuum]] reclaims
    * snapshots the LATEST manifest no longer references, after which
    * older versions pointing into them stop being readable — time
    * travel reaches as far back as the vacuum horizon. */
  def readVersion(spark: SparkSession, path: String, v: Long): DataFrame = {
    val m = manifestAt(spark, path, v)
    conform(spark, readEntries(spark, m.entries), m)
  }

  /** The CURRENT snapshot minus an excluded partition set — what stays
    * live after a commit retracting `excluded` lands. None when the
    * table has no committed version or nothing stays live (callers
    * treating "no retained rows" as "nothing to compare against").
    * Used by [[MartConstraints]] to enforce table-wide constraints
    * against exactly the rows a pending commit will coexist with. */
  private[sources] def readRetained(spark: SparkSession, path: String,
                                    excluded: Set[Seq[String]]): Option[DataFrame] =
    readManifest(spark, path).flatMap { m =>
      val kept = m.entries.filterNot(e => excluded.contains(e.values))
      if (kept.isEmpty) None
      else Some(conform(spark, readEntries(spark, kept), m))
    }

  /** Read a live entry set: group leaves by snapshot root so each
    * group reads with one basePath (restoring partition columns from
    * directory names); union the (few, one per live publish) groups. */
  private[sources] def readEntries(spark: SparkSession, entries: Seq[Entry]): DataFrame = {
    if (entries.isEmpty)
      return spark.emptyDataFrame
    val bySnap = entries.groupBy(e => e.dir.substring(0, e.dir.indexOf("/", e.dir.indexOf("snap-"))))
    bySnap.map { case (snapRoot, es) =>
      spark.read.option("basePath", snapRoot).parquet(es.map(_.dir): _*)
    // snapshots written before/after a schema evolution differ in
    // column sets; missing columns union in as NULLs (then conform
    // orders and types them per the manifest's declared schema)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Read one manifest-pruned partition subset: entries are filtered
    * DRIVER-side against the manifest before any file is listed — the
    * manifest is the partition index. */
  def readWhere(spark: SparkSession, path: String, col: String, value: String): DataFrame = {
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val i = m.partCols.indexOf(physOf(m, col))
    require(i >= 0, s"$col is not a partition column (${logicalPartCols(m)})")
    conform(spark, readEntries(spark, m.entries.filter(_.values(i) == value)), m)
  }

  /** Read selected whole partitions (values tuples), optionally at a
    * pinned version — the multi-partition readWhere a merge needs. */
  def readPartitions(spark: SparkSession, path: String, values: Seq[Seq[String]],
                     version: Option[Long] = None): DataFrame = {
    val m = version.map(manifestAt(spark, path, _)).orElse(readManifest(spark, path))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val want = values.toSet
    conform(spark, readEntries(spark, m.entries.filter(e => want.contains(e.values))), m)
  }

  private def statGe(typ: String, a: String, b: String): Boolean =
    if (typ == "n") BigDecimal(a) >= BigDecimal(b) else a >= b

  // ---- Multi-column data skipping (VERDICT r9 #7): a CONJUNCTION of
  // per-column windows prunes multiplicatively — each extractable
  // conjunct can only shrink the kept set, and anything the extractor
  // does not understand is simply not used for pruning (the full
  // predicate always runs as the exact residual filter, so correctness
  // never depends on extraction coverage).

  /** A conjunct's prune condition: a value window (optional bounds,
    * each carrying its comparison domain "n"/"s"), or a null test. */
  private sealed trait PruneCond { def c: String }
  private final case class RangeCond(c: String,
                                     lo: Option[(String, String)],
                                     hi: Option[(String, String)]) extends PruneCond
  private final case class NotNullCond(c: String) extends PruneCond
  private final case class NullCond(c: String) extends PruneCond

  private def splitConjuncts(e: catalyst.expressions.Expression)
      : Seq[catalyst.expressions.Expression] = e match {
    case catalyst.expressions.And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Render a constant side into the stat domain it compares in, or
    * None for domains the skipper does not index (then the conjunct
    * just does not prune). Mirrors [[statDomain]]'s numeric/
    * lexicographic split. Accepts any FOLDABLE expression, not only a
    * bare Literal — analysis leaves coercion casts unfolded
    * (`dt = '7'` over an int partition column arrives as
    * `EqualTo(dt, Cast('7' AS INT))`), and folding them here is what
    * lets partition-value windows prune. */
  private object FoldedLit {
    def unapply(e: catalyst.expressions.Expression): Option[(String, String)] = {
      import org.apache.spark.sql.types._
      if (!e.foldable) return None
      val v = try e.eval(null) catch { case _: Exception => null }
      Option(v).flatMap { value =>
        e.dataType match {
          case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => Some(("n", value.toString))
          case _: DecimalType => Some(("n", value.toString))
          case StringType => Some(("s", value.toString))
          case _ => None
        }
      }
    }
  }

  private def attrName(e: catalyst.expressions.Expression): Option[String] = e match {
    case a: catalyst.analysis.UnresolvedAttribute => Some(a.name)
    case a: catalyst.expressions.AttributeReference => Some(a.name)
    // analysis inserts widening casts on type-mismatched comparisons;
    // unwrapping is safe because entryMayMatch already refuses to prune
    // across comparison-domain changes (t != typ keeps the entry)
    case c: catalyst.expressions.Cast => attrName(c.child)
    case _ => None
  }

  /** One conjunct → the window it imposes when it is a plain
    * column-vs-literal comparison. Strict bounds are widened to closed
    * ones — conservative: a boundary partition is kept, never wrongly
    * skipped. */
  private def conjunctWindow(e: catalyst.expressions.Expression): Option[PruneCond] = {
    import catalyst.expressions._
    e match {
      case EqualTo(a, FoldedLit(v)) => attrName(a).map(n => RangeCond(n, Some(v), Some(v)))
      case EqualTo(FoldedLit(v), a) => attrName(a).map(n => RangeCond(n, Some(v), Some(v)))
      case GreaterThanOrEqual(a, FoldedLit(v)) => attrName(a).map(n => RangeCond(n, Some(v), None))
      case GreaterThan(a, FoldedLit(v))        => attrName(a).map(n => RangeCond(n, Some(v), None))
      case LessThanOrEqual(a, FoldedLit(v))    => attrName(a).map(n => RangeCond(n, None, Some(v)))
      case LessThan(a, FoldedLit(v))           => attrName(a).map(n => RangeCond(n, None, Some(v)))
      case GreaterThanOrEqual(FoldedLit(v), a) => attrName(a).map(n => RangeCond(n, None, Some(v)))
      case GreaterThan(FoldedLit(v), a)        => attrName(a).map(n => RangeCond(n, None, Some(v)))
      case LessThanOrEqual(FoldedLit(v), a)    => attrName(a).map(n => RangeCond(n, Some(v), None))
      case LessThan(FoldedLit(v), a)           => attrName(a).map(n => RangeCond(n, Some(v), None))
      case IsNotNull(a) => attrName(a).map(NotNullCond)
      case IsNull(a)    => attrName(a).map(NullCond)
      case _ => None
    }
  }

  /** Can this entry hold a row satisfying every condition? Checks BOTH
    * prune surfaces: manifest column stats (data columns — bounds for
    * value windows, null counts for null tests) and the partition
    * VALUES themselves (partition columns — the manifest IS the
    * partition index; the hive default token is the null partition).
    * A column with neither surface, a domain mismatch, or missing
    * null counts keeps the entry — conservative in every unknown. */
  private def entryMayMatch(e: Entry, partCols: Seq[String], conds: Seq[PruneCond]): Boolean =
    conds.forall { cond => try {
      val pi = partCols.indexOf(cond.c)
      val isNullPart = pi >= 0 && e.values(pi) == "__HIVE_DEFAULT_PARTITION__"
      cond match {
        case RangeCond(_, lo, hi) =>
          def within(typ: String, mn: String, mx: String): Boolean = {
            def ok(bound: Option[(String, String)], f: String => Boolean) =
              bound.forall { case (t, v) => t != typ || f(v) }
            ok(lo, v => statGe(typ, mx, v)) && ok(hi, v => statGe(typ, v, mn))
          }
          if (pi >= 0)
            isNullPart || lo.map(_._1).orElse(hi.map(_._1))
              .forall(t => within(t, e.values(pi), e.values(pi)))
          else e.stats.get(cond.c) match {
            // all-null partition: no value can satisfy ANY comparison
            case Some(s) if s.min.isEmpty && s.rows >= 0 && s.nulls == s.rows => false
            case Some(s) if s.min.nonEmpty => within(s.typ, s.min, s.max)
            case _ => true
          }
        case NotNullCond(_) =>
          if (pi >= 0) !isNullPart
          else e.stats.get(cond.c) match {
            case Some(s) if s.rows >= 0 => s.nulls < s.rows
            case _ => true
          }
        case NullCond(_) =>
          if (pi >= 0) isNullPart
          else e.stats.get(cond.c) match {
            case Some(s) if s.rows >= 0 => s.nulls > 0
            case _ => true
          }
      }
      // Domain guard: partition VALUES carry no stored type, so a
      // numeric-domain window against a non-numeric partition value
      // (analysis coerced the column and attrName unwrapped the Cast)
      // reaches statGe("n", ...) and BigDecimal("p3") throws. Any such
      // failure KEEPS the entry — pruning degrades, never crashes:
      // the documented "never worse than no pruning" contract.
      } catch { case scala.util.control.NonFatal(_) => true }
    }

  /** Driver-side entry pruning for an arbitrary predicate: keeps every
    * entry at least one extracted conjunct window cannot rule out.
    * Shared by [[readFiltered]] and the B39 DML rewrites.
    *
    * The predicate arrives as an UNRESOLVED Column (Spark 4's DSL
    * builds opaque ColumnNodes), so it is resolved by analyzing a
    * filter over a ONE-partition probe frame — a driver-only listing
    * of a single directory, no job — and the windows are read off the
    * resolved condition. Any failure to extract (exotic shapes,
    * unresolvable pieces) degrades to "no pruning", never to a wrong
    * skip: the exact predicate always runs as the residual filter. */
  private[sources] def pruneEntries(spark: SparkSession, m: Manifest,
                                    predicate: org.apache.spark.sql.Column)
      : (Seq[Entry], Seq[Entry]) = {
    if (m.entries.isEmpty) return (Nil, Nil)
    val windows =
      try {
        // conform the probe so predicates on EVOLVED columns resolve
        val probe = conform(spark, readEntries(spark, m.entries.take(1)), m)
        probe.filter(predicate).queryExecution.analyzed
          .collectFirst { case f: catalyst.plans.logical.Filter => f.condition }
          .toSeq.flatMap(splitConjuncts).flatMap(conjunctWindow(_))
      } catch { case _: Exception => Nil }
    // predicates name LOGICAL columns; stats and partition values are
    // keyed by rename-stable PHYSICAL names (B43) — translate windows
    val physWindows = windows.map {
      case r: RangeCond => r.copy(c = physOf(m, r.c))
      case n: NotNullCond => n.copy(c = physOf(m, n.c))
      case n: NullCond => n.copy(c = physOf(m, n.c))
    }
    m.entries.partition(entryMayMatch(_, m.partCols, physWindows))
  }

  /** DATA SKIPPING: prune every partition that cannot hold a row
    * satisfying the conjunctive `predicate` — driver-side, before any
    * directory is listed. Every extractable conjunct prunes on its own
    * column (manifest stats or partition values), so compound
    * predicates skip multiplicatively; stat-less entries are
    * conservatively kept, and the predicate then runs exactly on what
    * remains, so the answer never depends on the stats. A range on one
    * column is `col(c).between(lo, hi)`. Returns (frame, partitions
    * scanned, partitions skipped) so operators can assert the skip. */
  def readFiltered(spark: SparkSession, path: String,
                   predicate: org.apache.spark.sql.Column): (DataFrame, Int, Int) = {
    val m = readManifest(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val (keep, skip) = pruneEntries(spark, m, predicate)
    if (keep.isEmpty) (conform(spark, spark.emptyDataFrame, m), 0, skip.size)
    else (conform(spark, readEntries(spark, keep), m).filter(predicate), keep.size, skip.size)
  }

  /** B32 — SHALLOW CLONE: a new independent table whose v0 manifest
    * points at the SOURCE's current snapshot directories — zero data
    * copied (Delta's shallow-clone semantics, public). The clone then
    * evolves independently: its own publishes stage under its own
    * root; the shared snapshots are immutable so neither side can
    * disturb the other's reads. Two explicit caveats, both inherent to
    * the pattern: the clone's vacuum NEVER deletes borrowed dirs
    * (they live outside its data root — [[vacuum]] only lists its
    * own), but the SOURCE's vacuum doesn't know about borrowers, so
    * cloning pins a retention obligation on the source exactly like a
    * long-lived reader version does. */
  def shallowClone(spark: SparkSession, src: String, dst: String): Long = {
    val m = readManifest(spark, src).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $src"))
    val f = fs(spark, dst)
    require(currentVersion(spark, dst).isEmpty, s"$dst already has commits")
    f.mkdirs(new Path(dst, VersionsDir))
    val tmp = new Path(dst, s"$VersionsDir/.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, false)
    // the clone's v0 carries the FULL metadata surface — schema,
    // column mapping, tombstones — not just the pointers (dropping the
    // schema here would make the clone read raw physical names)
    try out.write(render(Manifest(0L, m.partCols, m.entries, m.schemaDdl,
        m.colMap, m.maxColId, m.burned))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(dst, f"$VersionsDir/v${0L}%09d.json")
    if (!f.rename(tmp, dest))
      throw new IllegalStateException(s"clone commit lost a race at $dest")
    0L
  }

  /** B35 — OPTIMIZE under the manifest: rewrite fragmented partitions
    * into a compact layout and swap them in with ONE OCC commit.
    * Readers are snapshot-isolated throughout — the old snapshot dirs
    * are immutable and stay referenced by older manifests until
    * [[vacuum]]'s retention window passes, so a scan that bound before
    * the compaction finishes on the old files untouched.
    *
    * Partition selection is metadata-only (B17's posture: list file
    * counts, never read data to decide). Each fragmented partition's
    * rows are re-shuffled onto one task via repartition on the
    * partition columns → ONE output file per partition; `layout`
    * overrides that with a custom clustering (e.g.
    * [[graft.plans.ZOrder.layout]]), in which case the layout's own
    * partitioning decides file boundaries. `statCols` re-captures
    * manifest stats over the compacted (tighter) layout. Returns the
    * committed version, or the current one when nothing is fragmented. */
  def compact(spark: SparkSession, path: String, maxFiles: Int = 1,
              statCols: Seq[String] = Nil,
              layout: Option[DataFrame => DataFrame] = None): Long = {
    import org.apache.spark.sql.functions.col
    val readV = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $path"))
    val m = manifestAt(spark, path, readV)
    val f = fs(spark, path)
    def nDataFiles(dir: String): Int =
      f.listStatus(new Path(dir)).count { s =>
        s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".")
      }
    val frag = m.entries.filter(e => nDataFiles(e.dir) > maxFiles)
    if (frag.isEmpty) return readV
    // conform so the re-staged rows keep the DECLARED column types —
    // a raw read restores partition columns via type inference (a
    // "bucket" dir value of "3" comes back INT even when written
    // STRING), which the B42 schema gate would rightly refuse
    val df = conform(spark, readEntries(spark, frag), m)
    val lpc = logicalPartCols(m) // the conformed frame speaks logical names
    val packed = layout match {
      case Some(l) => l(df)
      case None => df.repartition(lpc.map(col): _*)
    }
    publishReplacing(packed, path, lpc, frag.map(_.values),
      baseVersion = Some(readV), statCols = statCols)
  }

  /** Reclaim storage outside an explicit RETENTION WINDOW of the last
    * `retainLast` committed versions (default 1 = head only):
    *
    *  - every manifest OLDER than the window is deleted first, so time
    *    travel outside the window fails loudly at version resolution
    *    ("no committed version"), never half-reads a vacuumed snapshot;
    *  - then every snapshot directory referenced by NO retained
    *    manifest goes (failed stages, partitions replaced before the
    *    window opened).
    *
    * The contract this gives readers is the one every lake format
    * documents: [[readVersion]] works for exactly the retained
    * versions; concurrent readers are safe as long as they bind to a
    * version inside the window for the duration of their scan. Returns
    * the paths removed (manifests + snapshot dirs).
    *
    * `graceMs` (r13) closes the CONCURRENT-WRITER race: a snapshot a
    * writer has staged but not yet committed is referenced by no
    * manifest, so an ungated vacuum would delete it under the
    * writer's feet and the commit would land pointing at dead files —
    * the exact hazard Delta's `deletedFileRetentionDuration` exists
    * for. An unreferenced snapshot is therefore only reclaimed once
    * its modification time is at least `graceMs` old (default 24 h ≫
    * any in-flight stage; maintenance that KNOWS no writer is live —
    * and tests — pass 0). Manifests outside the window still drop
    * IMMEDIATELY: the readability horizon moves now, only the storage
    * reclaim of the newly-unreferenced files waits out the grace. */
  def vacuum(spark: SparkSession, path: String, retainLast: Int = 1,
             graceMs: Long = DefaultVacuumGraceMs): Seq[String] = {
    require(retainLast >= 1, "must retain at least the head version")
    require(graceMs >= 0, "graceMs must be nonnegative")
    val f = fs(spark, path)
    val vDir = new Path(path, VersionsDir)
    val versions: Seq[Long] =
      if (!f.exists(vDir)) Nil
      else f.listStatus(vDir).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
          n.stripPrefix("v").stripSuffix(".json").toLong
        }.sorted
    val retained = versions.takeRight(retainLast)
    val droppedManifests = versions.dropRight(retainLast).map { v =>
      val p = new Path(path, f"$VersionsDir/v$v%09d.json")
      f.delete(p, false)
      p.toString
    }
    val live: Set[String] = retained
      .flatMap(v => manifestAt(spark, path, v).entries)
      .map(e => e.dir.substring(0, e.dir.indexOf("/", e.dir.indexOf("snap-"))))
      .toSet
    val dataRoot = new Path(path, DataDir)
    val cutoff = System.currentTimeMillis() - graceMs
    val droppedSnaps =
      if (!f.exists(dataRoot)) Nil
      else f.listStatus(dataRoot).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("snap-"))
        .filterNot(s => live.contains(s.getPath.toString))
        .filter(_.getModificationTime <= cutoff)
        .map { s => f.delete(s.getPath, true); s.getPath.toString }
    droppedManifests ++ droppedSnaps
  }

  /** [[vacuum]]'s default in-flight-writer grace (24 h — far beyond
    * any stage duration; Delta ships 7 days for the same knob). */
  val DefaultVacuumGraceMs: Long = 24L * 3600 * 1000
}
