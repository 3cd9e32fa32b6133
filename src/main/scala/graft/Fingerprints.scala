package graft

/** Content fingerprints for durable-layout freshness pinning.
  *
  * A derived on-disk artifact (a bucketed copy under `_layout`, an ANN
  * index) is only as good as the base files it was computed
  * from: served on trust, a base rewrite that forgets to refresh the artifact
  * silently answers from stale state. The fix the repo already proved on the
  * ANN manifest (AnnIndex.manifestJson's corpus_fp) is generalized here: pin
  * the base's LISTING FINGERPRINT — relative path, size and mtime of every
  * file under it — into the artifact's manifest at build time, and have
  * readers refuse (fall through to recompute, loudly) on mismatch.
  *
  * The listing hash is metadata-only (no data read — O(files) stat calls, ms
  * even on a thousand-file 100 TB fact dir), which is exactly the granularity
  * object stores and HDFS surface cheaply; a rewrite that preserves every
  * file name, size AND mtime is indistinguishable, which no real writer does.
  *
  * Reference analog: hyrise re-derives chunk pruning statistics whenever a
  * chunk is finalized (reference: src/lib/storage/table.cpp's chunk finalize
  * path) — derived state there is owned by the storage layer and can never
  * drift; on external parquet the manifest pin is the equivalent contract. */
object Fingerprints {
  import java.nio.file.{Files, Path, Paths}

  /** MD5 of the recursive (relative path, size, mtime) listing under `path`
    * (a file fingerprints as itself); "missing" when absent. Symlinked roots
    * resolve; entries are sorted so directory iteration order is immaterial. */
  def of(path: String): String = {
    val root: Path = Paths.get(path)
    if (!Files.exists(root)) "missing"
    else {
      val walk = Files.walk(root)
      val items =
        try {
          val b = Seq.newBuilder[String]
          walk.filter(p => Files.isRegularFile(p)).forEach { p =>
            b += s"${root.relativize(p)}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
          }
          b.result().sorted.mkString("|")
        } finally walk.close()
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(items.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }

  /** Parse a flat `{"key":"fp",...}` JSON object (the `_layout/<t>.fp.json`
    * pin [[ScaleUpLayout.bucketFacts]] writes) to {key → fp}. */
  def fromJson(s: String): Map[String, String] =
    """"([^"]+)":"([^"]+)"""".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
}
