package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Manifest ETL: the reference's filename/path-derived columns re-expressed as
  * Catalyst expressions (all codegen'd built-ins; no UDFs).
  *
  * Reference semantics:
  *  - stem extraction strips a type-specific suffix from an image filename
  *    (reference: train/common/dataset.py:229-253) — SURVEY P1;
  *  - difficulty classification is a path-substring CASE with default 'easy'
  *    (reference: train/common/dataset.py:166-178) — SURVEY P2;
  *  - extension filtering keeps image keys only
  *    (reference: train/common/dataset.py:130) — SURVEY S2;
  *  - path basename, from the s3://bucket/key parsing family
  *    (reference: train/common/dataset.py:255-269) — P8.
  */
object ManifestOps {

  /** S2: case-insensitive image-extension predicate on a key column.
    * endswith over the lowercased key, not an rlike: semantically identical
    * to `(?i)\.(png|jpe?g|bmp)$` but a UTF8String suffix compare instead of
    * a Java-regex machine — the manifest filter runs on EVERY key of a
    * 100-TB listing, and the regex form measured ~10× slower per row.
    */
  def isImageKey(key: Column): Column = {
    val k = lower(key)
    k.endsWith(".png") || k.endsWith(".jpg") || k.endsWith(".jpeg") ||
      k.endsWith(".bmp")
  }

  /** P8: basename — final path segment. substring_index, not
    * element_at(split(...)): identical semantics (whole string when no
    * separator, "" on a trailing slash) without materializing a per-row
    * array on the manifest hot path.
    */
  def basename(key: Column): Column =
    substring_index(key, "/", -1)

  /** Filename with its trailing `.ext` stripped — the ONE regex the
    * manifest projection keeps (`\.[A-Za-z0-9]+$` has no cheap built-in
    * equivalent; everything downstream of it is suffix/substring ops).
    */
  private def dropExt(filename: Column): Column =
    regexp_replace(filename, "\\.[A-Za-z0-9]+$", "")

  /** P1: stem from a typed image filename:
    *   {stem}_person.{ext} | {stem}_cloth_{variant}.{ext} | {stem}_vton.{ext}
    * (naming per reference train/S3_DATASET_STRUCTURE.md:29-37).
    *
    * Suffix checks are `endsWith`/`contains`/`substring` — exactly the
    * `_person$` / `_cloth_` / `_vton$` regex semantics (anchored-suffix
    * replace ≡ drop the last |suffix| chars once endsWith holds; reluctant
    * `^(.*?)_cloth_` capture ≡ everything before the FIRST `_cloth_` ≡
    * substring_index) but evaluated as UTF8String ops: the per-row regex
    * stack was the dominant cost of the whole feed at a 13.5M-row manifest
    * probe (~6× end-to-end, see SURVEY §6.1).
    */
  def stem(filename: Column): Column = {
    val noExt = dropExt(filename)
    when(noExt.endsWith("_person"), substring(noExt, lit(1), length(noExt) - 7))
      .when(noExt.contains("_cloth_"), substring_index(noExt, "_cloth_", 1))
      .when(noExt.endsWith("_vton"), substring(noExt, lit(1), length(noExt) - 5))
      .otherwise(noExt)
  }

  /** P1 (image_type): which of the three roles a filename plays. */
  def imageType(filename: Column): Column = {
    val noExt = dropExt(filename)
    when(noExt.endsWith("_person"), lit("initial_image"))
      .when(noExt.contains("_cloth_"), lit("cloth_image"))
      .when(noExt.endsWith("_vton"), lit("try_on_image"))
  }

  /** P2: difficulty from the path, defaulting to easy like the reference. */
  def difficulty(prefix: Column): Column =
    when(lower(prefix).contains("/easy/"), "easy")
      .when(lower(prefix).contains("/medium/"), "medium")
      .when(lower(prefix).contains("/hard/"), "hard")
      .otherwise("easy")

  /** J1 + P3: triplet discovery. Input: a manifest with (stem, image_type,
    * key) columns. Output: one row per stem having all three image types,
    * with a deterministic representative key per type (`max(key)` —
    * last-write-wins like the reference's dict keying, SURVEY §7.4 item 5;
    * reference: train/common/dataset.py:112-159).
    *
    * Implemented as a single hash aggregate of conditional `max`es (what a
    * pivot compiles to) rather than a 3-way self-join: one shuffle on stem
    * instead of three scans + two joins — the shape that survives a 100-TB
    * manifest.
    */
  def tripletDiscovery(manifest: DataFrame): DataFrame =
    tripletDiscoveryWith(manifest, Nil)

  /** [[tripletDiscovery]] carrying extra per-stem attribute columns (e.g.
    * difficulty) through the SAME single aggregate — `max(attr)` per stem, a
    * deterministic representative. This is the fused form [[graft.pipelines
    * .Pipelines.trainingFeed]] uses: the separate
    * `dropDuplicates(stem) + join` it replaces re-executed the whole
    * manifest projection a second time AND added a stem×stem join — at a
    * 13.5M-row manifest probe the fusion cut the feed from ~90 s to the
    * cost of one projection pass + one shuffle (SURVEY §6.1).
    */
  def tripletDiscoveryWith(manifest: DataFrame, attrs: Seq[String]): DataFrame = {
    val typeCols = Seq("initial_image", "cloth_image", "try_on_image").map(t =>
      max(when(col("image_type") === t, col("key"))).as(t))
    val attrCols = attrs.map(a => max(col(a)).as(a))
    val aggs = typeCols ++ attrCols
    manifest
      .groupBy("stem")
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("initial_image").isNotNull &&
        col("cloth_image").isNotNull && col("try_on_image").isNotNull)
  }

  /** J4: stems present in the manifest but failing triplet discovery
    * (reference logs these, train/common/dataset.py:158-159). Left-anti join.
    */
  def incompleteStems(manifest: DataFrame): DataFrame = {
    val complete = tripletDiscovery(manifest).select("stem")
    manifest.select("stem").distinct()
      .join(complete, Seq("stem"), "left_anti")
  }

  /** J2: pairs-file fan-out join — (person_id, garment_id) rows joined to
    * per-directory asset manifests (reference: train/train_CP_VTON/
    * dataloader.py:54-68). `assets` must have (dir, id, key).
    * Composite-key targets (`{person}_{garment}`) join on a derived key.
    */
  def pairsJoin(pairs: DataFrame, assets: DataFrame,
                personDirs: Seq[String], garmentDirs: Seq[String],
                compositeDirs: Seq[String] = Nil): DataFrame = {
    def side(dirs: Seq[String], idCol: Column, prefix: String): DataFrame => DataFrame =
      df => dirs.foldLeft(df) { (acc, d) =>
        val a = assets.filter(col("dir") === d)
          .select(col("id").as(s"${prefix}_join_id"), col("key").as(s"${d}_key"))
        acc.join(a, idCol === col(s"${prefix}_join_id"), "left")
          .drop(s"${prefix}_join_id")
      }
    val withPerson  = side(personDirs, col("person_id"), "p")(pairs)
    val withGarment = side(garmentDirs, col("garment_id"), "g")(withPerson)
    compositeDirs.foldLeft(withGarment) { (acc, d) =>
      val a = assets.filter(col("dir") === d)
        .select(col("id").as("c_join_id"), col("key").as(s"${d}_key"))
      acc.join(a, concat_ws("_", col("person_id"), col("garment_id")) === col("c_join_id"), "left")
        .drop("c_join_id")
    }
  }
}
