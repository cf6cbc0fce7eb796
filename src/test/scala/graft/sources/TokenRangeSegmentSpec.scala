package graft.sources.connector

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-bucket manifest SEGMENTS (VERDICT r12 #5): a commit's write cost
  * must be O(touched buckets' files), never O(table files) — the flat
  * format re-wrote the full list per commit (tens of MB per commit at
  * 10⁶ files). Structural proofs on a many-file table: a single-bucket
  * commit writes ONE new segment + a ≤16-line version file and carries
  * every untouched bucket's pointer verbatim; reads resolve identically;
  * vacuum reaps dead segments; a version file in a retired format fails
  * loudly. */
class TokenRangeSegmentSpec extends SparkSpec {
  private val fmt = classOf[TokenRangeSource].getName

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tr_seg").toString

  private def segNames(dir: String): Set[String] = {
    val sd = new java.io.File(TokenRangeSource.manifestDir(dir), "segments")
    Option(sd.listFiles()).getOrElse(Array.empty).map(_.getName).toSet
  }
  /** DATA lines of a version file (pointer lines). Every published
    * manifest also carries exactly one `#edits <n>` metadata header
    * (r15 — the version's schema pin), asserted here so the header
    * contract can't silently drift. */
  private def versionBody(dir: String, v: Int): Seq[String] = {
    val lines = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(TokenRangeSource.manifestDir(dir), s"v$v.manifest").toPath),
      "UTF-8").split('\n').toSeq.filter(_.nonEmpty)
    assert(lines.count(_.startsWith("#edits ")) == 1,
      s"every manifest carries one #edits header: $lines")
    lines.filterNot(_.startsWith("#"))
  }

  test("single-bucket commit on a many-file table writes O(touched): 1 segment + a 16-line version") {
    val dir = freshDir()
    // synthesize a 16-bucket x 500-file table in ONE manifest publish
    // (publishManifest tracks references, not bytes — no parquet needed)
    val big = for (k <- 0 until 16; i <- 0 until 500) yield f"tb=$k/f$i%04d.parquet"
    val v1 = TokenRangeSource.publishManifest(dir, big, truncate = false)
    assert(TokenRangeSource.visibleRelFiles(dir, Some(v1)).size == 8000)
    val v1Lines = versionBody(dir, v1)
    assert(v1Lines.size == 16 && v1Lines.forall(_.startsWith("@")),
      s"a segmented publish holds one pointer line per bucket: $v1Lines")
    val segsAfterV1 = segNames(dir)

    // the O(touched) claim: committing ONE file into ONE bucket
    val v2 = TokenRangeSource.publishManifest(dir, Seq("tb=3/extra.parquet"),
      truncate = false)
    val v2Lines = versionBody(dir, v2)
    assert(v2Lines.size == 16, s"version stays one line per bucket: ${v2Lines.size}")
    val newSegs = segNames(dir) -- segsAfterV1
    assert(newSegs.size == 1,
      s"a single-bucket commit must write exactly ONE new segment, wrote $newSegs")
    // untouched buckets' pointers carried VERBATIM (by reference)
    assert(v1Lines.filterNot(_.startsWith("@3 ")).toSet
      == v2Lines.filterNot(_.startsWith("@3 ")).toSet,
      "untouched buckets' pointer lines must carry by reference")
    // and the new segment holds only bucket 3's list (501 files)
    val rels = TokenRangeSource.visibleRelFiles(dir, Some(v2))
    assert(rels.size == 8001)
    assert(rels.count(_._1 == 3) == 501)
  }

  test("vacuum reaps segments referenced by no retained version") {
    val dir = freshDir()
    val big = for (k <- 0 until 16; i <- 0 until 20) yield f"tb=$k/g$i%02d.parquet"
    TokenRangeSource.publishManifest(dir, big, truncate = false)
    // churn bucket 5 three times: three generations of its segment
    (0 until 3).foreach { r =>
      TokenRangeSource.publishManifest(dir, Seq(s"tb=5/churn$r.parquet"),
        truncate = false)
    }
    val before = segNames(dir).size
    val vMax = TokenRangeSource.versions(dir).max
    TokenRangeOps.vacuum(dir, vMax)
    val after = segNames(dir)
    assert(after.size < before,
      s"dead segment generations must be reaped ($before -> ${after.size})")
    // exactly the live version's referenced segments survive
    assert(after == TokenRangeSource.readVersion(dir, vMax).segments
      .map(_.stripPrefix("segments/")),
      "surviving segments must be exactly the retained version's references")
    // and the table still reads in full
    assert(TokenRangeSource.visibleRelFiles(dir, Some(vMax)).size == 16 * 20 + 3)
  }

  test("a version file without its #edits/#op headers, or with a bare data-file line, fails loudly") {
    val dir = freshDir()
    val v = TokenRangeSource.publishManifest(dir, Seq("tb=1/a.parquet"),
      truncate = false)
    val mf = new java.io.File(TokenRangeSource.manifestDir(dir), s"v$v.manifest")
    val lines = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
      .split('\n').toSeq.filter(_.nonEmpty)
    def refused(body: Seq[String], what: String): Unit = {
      java.nio.file.Files.write(mf.toPath, body.mkString("", "\n", "\n").getBytes("UTF-8"))
      val ex = intercept[IllegalStateException](TokenRangeSource.visibleRelFiles(dir))
      assert(ex.getMessage.contains(mf.getPath) && ex.getMessage.contains(what),
        ex.getMessage)
    }
    refused(lines.filterNot(_.startsWith("#edits ")), "#edits")
    refused(lines.filterNot(_.startsWith("#op ")), "#op")
    refused(lines :+ "tb=2/b.parquet", "bare data-file line")
  }
}
