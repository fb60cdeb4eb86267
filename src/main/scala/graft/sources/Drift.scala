package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Schema-drift-tolerant parquet ingestion.
  *
  * A multi-year crawl archive is written by many generator versions:
  * columns appear and disappear, integer ids widen, timestamps flip
  * between epoch-longs, TIMESTAMP_NTZ, and tz-adjusted TIMESTAMP (the
  * reference's own events feed did exactly this — see
  * `CoreQueries.normalizeEventTs`). Spark's `mergeSchema` option only
  * merges IDENTICAL column types, so a type-widened archive fails the
  * footer merge outright; reading every batch separately and unioning
  * plans one scan per BATCH — at 10⁴ crawl batches that is 10⁴ scan
  * operators in one plan.
  *
  * This reader does neither: it groups batch directories by their
  * footer schema fingerprint and plans ONE scan per distinct schema
  * VERSION (generator versions are few — single digits — no matter how
  * many batches each produced), conforms each version to the caller's
  * target schema with lossless casts only, and unions the conformed
  * branches. Predicate pushdown and column pruning operate per branch:
  * a filter on a target column reaches every version's parquet scan in
  * its OWN type (Catalyst pushes the comparison through the cast where
  * safe), and a narrow projection prunes each scan independently.
  *
  * 100 TB posture: driver metadata cost is one footer read per batch
  * directory at plan time — O(batches) calls but bytes-tiny (footers,
  * not data), and amortizable by passing an explicit `schemaOf`
  * mapping maintained by the ingest job (mirroring the span state's
  * `_segs` manifest pattern). Executor-side cost is identical to a
  * plain multi-path scan.
  */
object Drift {

  /** Lossless-cast rule: Catalyst's `canUpCast` lattice (integral
    * widening, float→double, decimal widening, anything→string is NOT
    * included there) plus the session-TZ reinterpretation of
    * TIMESTAMP_NTZ — safe under this engine's pinned-UTC sessions,
    * where naive and tz-adjusted timestamps share one epoch.
    *
    * Deliberately NOT here: the events reader's epoch-nanos rule
    * (`CoreQueries.normalizeEventTs`, BIGINT ts → `timestamp_micros(ts
    * div 1000)`). That is a REINTERPRETATION — the long's unit is
    * domain knowledge — while a `cast(long as timestamp)` means
    * seconds; folding it into this table would make every drifting
    * long column silently eligible for a unit guess. Columns with
    * bespoke encodings stay with their owning reader, which shares
    * this table's NTZ rule for the cases that ARE casts.
    */
  private[graft] def lossless(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (TimestampNTZType, TimestampType) => true
      case (f, t) =>
        org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f, t)
    }

  /** Conforms one batch to `target`: target columns present in the
    * batch are lossless-cast to the target type, columns the batch
    * predates are null-filled at the target type, and batch-only
    * columns are projected away. A lossy mapping (long→int, double→
    * float, string→anything) throws unless `allowLossy` — silent
    * narrowing is how an archive loses ids.
    */
  def conform(df: DataFrame, target: StructType, allowLossy: Boolean = false): DataFrame = {
    val have = df.schema.map(f => f.name -> f).toMap
    val cols = target.map { tf =>
      have.get(tf.name) match {
        case None =>
          lit(null).cast(tf.dataType).as(tf.name)
        case Some(sf) if sf.dataType == tf.dataType =>
          col(tf.name)
        case Some(sf) =>
          require(
            allowLossy || lossless(sf.dataType, tf.dataType),
            s"lossy conform for column '${tf.name}': ${sf.dataType.catalogString} → " +
              s"${tf.dataType.catalogString} (pass allowLossy=true to permit)"
          )
          col(tf.name).cast(tf.dataType).as(tf.name)
      }
    }
    df.select(cols: _*)
  }

  /** Conform ONE column to a target type under the [[lossless]] cast
    * table — the single-column form of [[conform]], shared by bespoke
    * readers (the events reader's NTZ→session-TZ case) so the cast
    * lattice lives in exactly one place. Reinterpretations (epoch-long
    * units) stay with their owning reader, per the [[lossless]] note.
    */
  def conformColumn(
      df: DataFrame,
      name: String,
      to: DataType,
      allowLossy: Boolean = false
  ): DataFrame = {
    val from = df.schema(name).dataType
    if (from == to) df
    else {
      require(
        allowLossy || lossless(from, to),
        s"lossy conform for column '$name': ${from.catalogString} → ${to.catalogString} " +
          "(pass allowLossy=true to permit)"
      )
      df.withColumn(name, col(name).cast(to))
    }
  }

  /** Reads a root directory whose immediate subdirectories are parquet
    * batches with (possibly) drifting schemas, conformed to `target`.
    * One scan per distinct footer schema; a root containing parquet
    * files directly is treated as a single batch.
    *
    * Batch-dir schemas come from the `_schemas` manifest when one
    * exists ([[writeSchemaManifest]] / [[appendSchemaEntry]] — the
    * ingest job maintains it, so plan-time driver work is ONE small
    * file read however many batches the archive holds); dirs the
    * manifest doesn't list (appended since) fall back to a footer read
    * each, so a manifest missing entries is a slow plan, never a wrong
    * one. Each version group is scanned with its schema passed
    * EXPLICITLY (`.schema(...)`), so a manifest entry that misstates a
    * column's TYPE fails deterministically at scan time rather than
    * depending on which file Spark happens to infer from. The residual
    * assumption is immutability: a batch dir REWRITTEN in place after
    * being listed can drop a column, and parquet's standard evolution
    * null-fills columns absent from individual files rather than
    * erroring — the manifest (like the `_segs` pattern it mirrors)
    * assumes batch dirs are immutable once listed; rewrites must
    * refresh their entry ([[appendSchemaEntry]]) or the full manifest.
    */
  def readConformed(
      spark: SparkSession,
      root: String,
      target: StructType,
      allowLossy: Boolean = false
  ): DataFrame = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fs
      .listStatus(rootPath)
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)
      .sorted
    val manifest = readSchemaManifest(fs, rootPath)
    // Group by the normalized DDL string: a manifest-sourced schema and
    // a footer-sourced one for the same version must land in ONE group
    // (StructType equality is metadata-sensitive; DDL is not).
    val byVersion: Seq[(String, Seq[String])] =
      if (subdirs.isEmpty)
        Seq(Parquet.read(spark, root).schema.toDDL -> Seq(root))
      else
        subdirs.toSeq
          .map { name =>
            val ddl = nullableDdl(
              manifest
                .get(name)
                .getOrElse(Parquet.read(spark, s"$root/$name").schema)
            )
            (ddl, s"$root/$name")
          }
          .groupBy(_._1)
          .map { case (ddl, pairs) => ddl -> pairs.map(_._2) }
          .toSeq
          .sortBy(_._2.head)
    byVersion
      .map { case (ddl, dirs) =>
        // Explicit expected schema per version group: a type mismatch
        // between the declared schema and a file fails at scan time
        // instead of silently following one arbitrary file's footer.
        conform(
          spark.read.schema(StructType.fromDDL(ddl)).parquet(dirs: _*),
          target,
          allowLossy
        )
      }
      .reduce(_.unionByName(_))
  }

  private val ManifestFile = "_schemas/manifest.tsv"

  /** Nullable canonical form: file-based reads are always nullable in
    * Spark, so footer-sourced schemas never carry NOT NULL — but a
    * writer-recorded one ([[appendSchemaEntry]] from an in-memory
    * DataFrame) can. Same version, different DDL, split scan groups;
    * canonicalizing both sides prevents that.
    */
  private def allNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.map(f => f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = allNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(valueType = allNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private[graft] def nullableDdl(s: StructType): String =
    allNullable(s).asInstanceOf[StructType].toDDL

  /** Scans every batch dir's footer ONCE and records `<dirname> TAB
    * <schema DDL>` lines under `_schemas/` — after which
    * [[readConformed]]'s plan-time driver cost is one manifest read,
    * not a footer read per batch. Idempotent full refresh; an ingest
    * job calls [[appendSchemaEntry]] instead (any writer that just
    * wrote the batch already knows the schema). Batch dir names must
    * not contain tabs or newlines (enforced).
    */
  def writeSchemaManifest(spark: SparkSession, root: String): Int = {
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs
      .listStatus(rootPath)
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.getName)
      .sorted
      .map { name =>
        require(
          !name.exists(c => c == '\t' || c == '\n' || c == '\r'),
          s"batch dir name '$name' contains manifest delimiters"
        )
        s"$name\t${Parquet.read(spark, s"$root/$name").schema.toDDL}"
      }
    val tmp = new HPath(rootPath, s"$ManifestFile.tmp")
    val out = fs.create(tmp, true)
    try out.write((entries.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // rename-with-overwrite: readers see the old or new manifest, never
    // a partial one (same protocol as QualityModel's pointer flip)
    org.apache.hadoop.fs.FileContext
      .getFileContext(rootPath.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new HPath(rootPath, ManifestFile), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    entries.length
  }

  /** The ingest-side manifest maintenance: record (or refresh) ONE
    * batch dir's schema without re-footer-scanning the archive. The
    * writer that just produced `dirName` already holds its schema, so
    * the incremental cost is a read-modify-rename of the small
    * manifest file — no data or footer I/O. Same atomic
    * rename-with-OVERWRITE protocol as the full refresh: readers see
    * the old or new manifest, never a partial one. An existing entry
    * for `dirName` is replaced (the rewrite-in-place escape hatch the
    * reader's immutability assumption names). Single-writer
    * discipline, like every state in the ingest family — one crawl
    * loop owns an archive's manifest.
    */
  def appendSchemaEntry(
      spark: SparkSession,
      root: String,
      dirName: String,
      schema: StructType
  ): Unit = {
    require(
      !dirName.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"batch dir name '$dirName' contains manifest delimiters"
    )
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // nullableDdl: record what a footer probe would see (file reads
    // are always nullable), so writer- and footer-sourced entries for
    // one version share a DDL group key.
    val entries =
      readSchemaManifestLines(fs, rootPath).filterNot(_._1 == dirName) :+
        (dirName -> nullableDdl(schema))
    val tmp = new HPath(rootPath, s"$ManifestFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(
      (entries.map { case (n, ddl) => s"$n\t$ddl" }.mkString("\n") + "\n").getBytes("UTF-8")
    )
    finally out.close()
    org.apache.hadoop.fs.FileContext
      .getFileContext(rootPath.toUri, spark.sparkContext.hadoopConfiguration)
      .rename(tmp, new HPath(rootPath, ManifestFile), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readSchemaManifestLines(fs: FileSystem, rootPath: HPath): Seq[(String, String)] = {
    val p = new HPath(rootPath, ManifestFile)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.linesIterator
        .filter(_.nonEmpty)
        .map { line =>
          val i = line.indexOf('\t')
          line.substring(0, i) -> line.substring(i + 1)
        }
        .toIndexedSeq
    }
  }

  private def readSchemaManifest(fs: FileSystem, rootPath: HPath): Map[String, StructType] =
    readSchemaManifestLines(fs, rootPath).map { case (n, ddl) =>
      n -> StructType.fromDDL(ddl)
    }.toMap
}
