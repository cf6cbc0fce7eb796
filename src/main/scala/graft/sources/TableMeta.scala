package graft.sources.connector

import org.apache.spark.sql.types._

/** Everything a token-range table records about itself beside its data
  * and version files — the facts CQL fixes at `CREATE TABLE` (partition
  * key, `CLUSTERING ORDER BY`, columns) plus the ALTER log, the SQL-DML
  * and INSERT modes, the secondary-index columns, the change-feed switch
  * and the maintenance policies.
  *
  * One operation (a scan builder, a write builder, a commit under the
  * lock, a catalog `loadTable`, a [[TokenRangeOps]] call, a CDC
  * micro-batch) loads it ONCE through [[TableMeta.load]] and passes it
  * down. Never keep one in an object that outlives the operation: the
  * metadata edits (ALTER, CREATE INDEX, the policy setters) publish no
  * version, so only a fresh load sees them.
  *
  * @param pk recorded partition key, comma-joined for a composite key —
  *   written once by the first commit (or CREATE TABLE); keyed ops,
  *   writers and pk-pruning scans validate callers against it
  * @param ck recorded clustering spec (`c1 [ASC|DESC], …`): the sink sorts
  *   every bucket file by it and the footer-stats slice prune bites on it
  * @param createdSchema the creation schema, all-nullable: the sink writes
  *   every column optional, and subset appends / ALTER-added columns read
  *   NULL — a NOT NULL creation field must not reach the scan schema
  * @param edits the ALTER log: `Right(field)` = ADD, `Left(name)` = DROP
  * @param dml `mor` = SQL row-level statements take the merge-on-read
  *   delta path; absent/`cow` = group-based copy-on-write
  * @param morFallbackRows statement size above which a merge-on-read
  *   statement (or an insert-upsert) completes copy-on-write instead: a
  *   vector tombstoning millions of rows would tax every later read
  * @param insertMode `upsert` = plain appends publish a key deletion vector
  *   over the incoming keys' older files (CQL's INSERT-IS-UPSERT)
  * @param indexCols declared secondary-index columns: written files carry
  *   a per-file bloom on each, non-key equality scans probe it
  * @param changeFeedSince the version at which the feed was enabled — the
  *   snapshot-seeding anchor for feed reads crossing older rewrites
  * @param dvCompactAfter live vector bindings per file at which the
  *   post-commit vector sweep compacts it (0 disables)
  * @param filesPerBucket live files per bucket at which the post-append
  *   sweep compacts the bucket (0, the default, disables) */
final case class TableMeta(
    path: String,
    pk: Option[String],
    ck: Option[String],
    createdSchema: Option[StructType],
    edits: Seq[Either[String, StructField]],
    dml: Option[String],
    morFallbackRows: Long,
    insertMode: Option[String],
    indexCols: Seq[String],
    changeFeed: Boolean,
    changeFeedSince: Option[Int],
    retainVersions: Option[Int],
    dvCompactAfter: Int,
    filesPerBucket: Int) {

  def pkNames: Seq[String] = pk.toSeq.flatMap(_.split(',').map(_.trim))

  def ckNames: Seq[String] =
    ck.toSeq.flatMap(TokenRangeSource.parseCkSpec(_).map(_._1))

  /** The edit log folded over `base`: ADD appends (skipped if the name is
    * already present), DROP removes. */
  def withEdits(base: StructType, upTo: Int = edits.size): StructType =
    edits.take(upTo).foldLeft(base) {
      case (s, Right(f)) =>
        if (s.fieldNames.exists(_.equalsIgnoreCase(f.name))) s
        else StructType(s.fields :+ f)
      case (s, Left(n)) =>
        StructType(s.fields.filterNot(_.name.equalsIgnoreCase(n)))
    }

  /** The STORED schema: the creation schema plus the edit log. None until
    * a commit (or CREATE TABLE) records it. Writes validate against it. */
  def storedSchema: Option[StructType] = createdSchema.map(withEdits(_))

  /** [[storedSchema]] as version `v` saw it: the edit log truncated to the
    * length `v` recorded at publish, so pinned reads serve the schema that
    * was live then (a pre-DROP snapshot still sees the dropped column). */
  private[connector] def storedSchemaAt(v: TableVersion): Option[StructType] =
    createdSchema.map(withEdits(_, v.edits))

  /** The current logical view for the ALTER ops: the stored schema, or on
    * a still-empty table (CREATE-then-ALTER) the bare folded edit log. */
  def currentView: StructType =
    storedSchema.getOrElse(withEdits(StructType(Array.empty[StructField])))

  /** The recorded pk resolved against a table schema — the merge key of
    * key-grain deletion vectors. */
  def pkFields(full: StructType): Array[(String, DataType)] =
    pkNames.toArray.flatMap(n => full.fields.find(_.name.equalsIgnoreCase(n))
      .map(f => (f.name, f.dataType)))

  /** The KEY-grain vector universe: pk fields, then (on clustered tables)
    * the ck columns, flagged `true` for pk members. A key-grain sidecar's
    * own columns name the subset it matches on; it must carry every pk
    * column (a partial-pk sidecar has no defined grain and fails loudly),
    * ck columns are the optional refinement. */
  def dvKeyFields(full: StructType): Array[(String, DataType, Boolean)] =
    pkFields(full).map { case (n, dt) => (n, dt, true) } ++
      ckNames.flatMap(c => full.fields.find(_.name.equalsIgnoreCase(c))
        .map(f => (f.name, f.dataType, false)))

  /** Validate a caller-supplied pk against the recorded one: a wrong or
    * reordered key would route writes on the wrong ring and prune reads
    * to the wrong bucket — both silent misses. Case-insensitive and
    * whitespace-normalized; a table with no recorded key skips. */
  def requirePk(given: String, what: String): Unit =
    pk.foreach { rec =>
      require(rec.equalsIgnoreCase(given.split(',').map(_.trim).mkString(",")),
        s"token-range $what at $path: table is bucketed on pk '$rec' but " +
          s"the operation was given '$given' — the pk option must name the " +
          "table's recorded full partition key (same columns, same order)")
    }

  /** Indices of the declared index columns present in a write schema —
    * resolved on the driver and shipped to the task writers. */
  def indexIdxOf(writeSchema: StructType): Seq[Int] =
    indexCols.flatMap(n =>
      writeSchema.fieldNames.indexWhere(_.equalsIgnoreCase(n)) match {
        case -1 => None
        case i => Some(i)
      })
}

/** The one reader and writer of the on-disk metadata format: `key=value`
  * lines in `.properties` files under `_manifests/`, plus the ALTER log —
  * one immutable CAS-claimed `edit-<i>.schema` file per edit, numbered
  * contiguously from 1, whose body is `ADD <column ddl>` or `DROP <name>`.
  *
  *   - `table.properties` — the creation record (pk, ck, schema, dml,
  *     dml.fallback_rows, index, insert), create-iff-absent: the first
  *     writer's key wins, as CQL allows no re-keying;
  *   - `clustering.properties` — a ck declared after creation (it wins
  *     over the creation record's);
  *   - `index.properties` — `CREATE INDEX` columns (win over `index=`);
  *   - `cdf.properties`, `retention.properties`, `dv.properties`,
  *     `compact.properties` — last-writer-wins policies. */
object TableMeta {
  private val MorFallbackRowsDefault = 1000000L
  private val DvCompactAfterDefault = 8

  private def io = TokenRangeSource.manifestIO

  private def file(path: String, name: String): String =
    new java.io.File(TokenRangeSource.manifestDir(path), name).getPath

  private def editFile(path: String, i: Int): String =
    file(path, s"edit-$i.schema")

  /** One properties file's `key=value` lines; empty when it is absent. */
  private def props(path: String, name: String): Map[String, String] = {
    val f = file(path, name)
    if (!io.exists(f)) Map.empty
    else io.read(f).split('\n').iterator.map(_.trim).flatMap { l =>
      val i = l.indexOf('=')
      if (i <= 0) None else Some(l.take(i).trim -> l.drop(i + 1).trim)
    }.toMap
  }

  private def parseEdit(body: String): Either[String, StructField] =
    if (body.startsWith("DROP ")) Left(body.stripPrefix("DROP ").trim)
    else Right(StructType.fromDDL(body.stripPrefix("ADD "))
      .fields.head.copy(nullable = true))

  /** The edit log's files, walked by existence probes from `edit-1` —
    * never by listing `_manifests`, which grows with every retained
    * version. */
  private def editFiles(path: String): List[String] =
    Iterator.from(1).map(editFile(path, _)).takeWhile(io.exists).toList

  /** The edit-log length: the `#edits` pin each publish stamps. */
  private[connector] def editCount(path: String): Int = editFiles(path).size

  /** Read every metadata file once. */
  private[graft] def load(path: String): TableMeta = {
    val table = props(path, "table.properties")
    val feed = props(path, "cdf.properties")
    val enabled = feed.get("cdf").contains("true")
    val edits = editFiles(path).map(f => parseEdit(io.read(f)))
    TableMeta(path,
      pk = table.get("pk"),
      ck = props(path, "clustering.properties").get("ck")
        .orElse(table.get("ck")).filter(_.nonEmpty),
      createdSchema = table.get("schema").map(ddl =>
        StructType(StructType.fromDDL(ddl).fields.map(_.copy(nullable = true)))),
      edits = edits,
      dml = table.get("dml"),
      morFallbackRows = table.get("dml.fallback_rows").map(_.toLong)
        .getOrElse(MorFallbackRowsDefault),
      insertMode = table.get("insert"),
      indexCols = props(path, "index.properties").get("cols")
        .orElse(table.get("index"))
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      changeFeed = enabled,
      changeFeedSince = if (enabled) feed.get("since").map(_.toInt) else None,
      retainVersions = props(path, "retention.properties")
        .get("retain.versions").map(_.toInt),
      dvCompactAfter = props(path, "dv.properties").get("compact_after")
        .map(_.toInt).getOrElse(DvCompactAfterDefault),
      filesPerBucket = props(path, "compact.properties")
        .get("files_per_bucket").map(_.toInt).getOrElse(0))
  }

  // ---- writers -------------------------------------------------------------

  /** The creation record, create-iff-absent: the FIRST writer's keys and
    * schema win (CQL allows no re-keying or re-clustering). The schema is
    * recorded beside the keys so later subset-column appends can never
    * shrink what reads see. */
  private[connector] def recordCreation(path: String, pk: String,
      ck: Option[String], schemaDdl: Option[String],
      dml: Option[String] = None, morFallbackRows: Option[Long] = None,
      index: Option[String] = None, insertMode: Option[String] = None): Unit = {
    io.createExclusive(file(path, "table.properties"),
      (Seq(s"pk=$pk") ++ ck.map(c => s"ck=$c") ++ schemaDdl.map(d => s"schema=$d")
        ++ dml.map(m => s"dml=$m")
        ++ morFallbackRows.map(n => s"dml.fallback_rows=$n")
        ++ index.map(ix => s"index=$ix")
        ++ insertMode.map(m => s"insert=$m")).mkString("\n"))
    ()
  }

  /** Record a clustering key declared after creation, create-iff-absent.
    * Callers check that no ck is recorded yet: this file wins over the
    * creation record's. */
  private[graft] def recordCk(path: String, ck: String): Unit = {
    io.createExclusive(file(path, "clustering.properties"), s"ck=$ck")
    ()
  }

  /** Append one ALTER to the edit log. Called under the commit lock with
    * `meta` loaded under it; a lost CAS (the documented double-holder
    * window) retries at the next index instead of reporting a success
    * that recorded nothing. */
  private[connector] def claimEdit(meta: TableMeta, body: String): Unit = {
    var i = meta.edits.size + 1
    while (!io.createExclusive(editFile(meta.path, i), body)) i += 1
  }

  private[connector] def recordIndex(path: String, cols: Seq[String]): Unit =
    io.write(file(path, "index.properties"), s"cols=${cols.mkString(",")}")

  /** Keep-last-N history: every commit past the bound sweeps the excess
    * best-effort after its own flip. */
  def setRetention(path: String, keepVersions: Int): Unit = {
    require(keepVersions >= 1, "retention must keep at least the current version")
    io.write(file(path, "retention.properties"), s"retain.versions=$keepVersions")
  }

  /** The per-file binding bound the automatic vector sweep compacts at;
    * 0 disables it. */
  def setVectorCompaction(path: String, compactAfter: Int): Unit =
    io.write(file(path, "dv.properties"), s"compact_after=$compactAfter")

  /** The per-bucket live-file bound past which the automatic
    * fragmentation sweep compacts that bucket (Cassandra's size-tiered
    * trigger at file-count grain); 0 disables it. Opt-in, unlike the
    * vector sweep: append-heavy tables that prefer scheduled maintenance
    * should not buy a mid-statement rewrite silently. */
  def setFileCompaction(path: String, filesPerBucket: Int): Unit =
    io.write(file(path, "compact.properties"), s"files_per_bucket=$filesPerBucket")

  /** CHANGE DATA FEED opt-in (Delta's `enableChangeDataFeed`,
    * Cassandra's `cdc = true`): from the next rewrite on, DELETE / upsert /
    * expire record the rows they remove or replace as a `_cdf/` sidecar
    * referenced by the publishing version's `#cdf` header, and
    * `.option("changeFeed", "true")` reads serve every change. The enable
    * version rides along: a feed read crossing an older rewrite (which
    * has no sidecar, by design) is served by snapshot seeding. */
  def enableChangeFeed(path: String): Unit =
    io.write(file(path, "cdf.properties"),
      s"cdf=true\nsince=${TokenRangeSource.currentVersion(path).getOrElse(0)}")

  /** Turn the feed back off: later rewrites record no sidecar, and a feed
    * read crossing them fails loudly. */
  def disableChangeFeed(path: String): Unit =
    io.write(file(path, "cdf.properties"), "cdf=false")
}
