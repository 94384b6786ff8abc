package graft.tools

import graft.llm.IndexManifest

/** Manifest-metadata cost at LONG commit chains — the last unmeasured
  * curve from the round-15 plan audit: `commit`/`gc`/`stage` each list
  * the root, and `gc` re-reads every retained version's `FILES`
  * listing, which is fine at retain=2 but unmeasured at the 10³–10⁴
  * accumulated commits a year of nightly appends produces. This probe
  * drives N `IndexManifest.mutate` cycles with tiny artifact writes
  * (the DATA cost is benched elsewhere; this isolates the METADATA term)
  * under both carry layouts and both storage backends, reporting
  * per-commit wall for the first and last decile so super-linear
  * drift shows as a ratio.
  *
  * Two chain shapes per configuration:
  *
  *   - `rebuild`: every commit stages a self-contained version (no
  *     carry) — the pure pointer/lock/GC term. MUST stay flat at any
  *     depth: GC truncates the lineage to `RetainVersions` (2) each
  *     commit, so the root directory never accumulates (the
  *     object-store backend additionally prunes its `MANIFEST-<seq>`
  *     tail).
  *   - `append` with compaction every `compactEvery`: each commit
  *     writes its own delta artifact AND carries the accumulated
  *     artifact forward (listing roots: one `FILES` ref per
  *     uncompacted ancestor — the real O(uncompacted-chain) term;
  *     link roots: one hard link per carried file), with a periodic
  *     carry-free rewrite standing in for compaction, exactly the
  *     cadence the serve path needs anyway. MUST stay flat ACROSS
  *     compaction periods — the honest claim is "bounded by
  *     compaction cadence", not "free": an append-only chain that
  *     never compacts pays O(chain) listing resolution by design
  *     (same as Iceberg manifests before rewrite).
  *
  * Absolute per-commit cost caveat (local runs): the probe builds no
  * graft session, so its `hadoop_listing` config runs on Hadoop's stock
  * local filesystem, not `GraftLocalFileSystem`. Without native
  * `libhadoop` (Spark's distribution ships none) that filesystem forks
  * a `chmod` for every version directory it makes, one per commit
  * (HDFS/S3 pay network RTTs instead). The engineered claims are the
  * FLAT ratio and the bounded per-commit op count (O(root entries),
  * which GC keeps O(retain) + uncompacted tail), not the local
  * absolute.
  *
  * Usage: `runMain graft.tools.ProbeCommitChain [nCommits]
  * [compactEvery] [configs]` (defaults 1000, 100, all;
  * `configs` = comma-set of posix_link|posix_listing|hadoop_listing
  * for depth sweeps that skip the fork-dominated local-Hadoop leg).
  * Prints one line per configuration; asserts last/first decile
  * ratio < 3 and a bounded root directory.
  */
object ProbeCommitChain {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 1000
    val compactEvery = if (args.length > 1) args(1).toInt else 100
    val wanted: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else _ => true

    def writeTiny(path: String, content: String): Unit = {
      val p =
        if (path.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(path))
        else java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content): Unit
    }

    def rootEntries(root: String): Int = {
      val local =
        if (root.startsWith("file:"))
          java.nio.file.Paths.get(java.net.URI.create(root)).toString
        else root
      Option(new java.io.File(local).list()).map(_.length).getOrElse(-1)
    }

    def drive(root: String, layout: String, append: Boolean)
        : (Double, Double) = {
      IndexManifest.pinLayout(root, layout)
      val decile = math.max(1, n / 10)
      var firstNs = 0L
      var lastNs = 0L
      var i = 0
      while (i < n) {
        val t0 = System.nanoTime()
        IndexManifest.mutate(root) { m =>
          if (append && i % compactEvery != 0)
            m.carry("data")
          // else: a self-contained rewrite — a rebuild step, or the
          // compaction stand-in that drops the accumulated carry refs
          writeTiny(s"${m.dir}/data/part-$i", s"commit $i")
        }
        val dt = System.nanoTime() - t0
        if (i < decile) firstNs += dt
        if (i >= n - decile) lastNs += dt
        i += 1
      }
      (firstNs / 1e6 / decile, lastNs / 1e6 / decile)
    }

    def tmp(tag: String): String = java.nio.file.Files
      .createTempDirectory(s"chain_$tag").toString + "/idx"

    val configs = Seq(
      ("posix_link", IndexManifest.LinkLayout, false),
      ("posix_listing", IndexManifest.ListingLayout, false),
      ("hadoop_listing", IndexManifest.ListingLayout, true))

    Seq(false, true).foreach { append =>
      val shape = if (append) s"append/compact$compactEvery" else "rebuild"
      configs.filter(c => wanted(c._1)).foreach { case (name, layout, hadoop) =>
        val root = if (hadoop) s"file://${tmp("h")}" else tmp("p")
        val (firstMs, lastMs) = drive(root, layout, append)
        val ratio = lastMs / math.max(firstMs, 0.001)
        val entries = rootEntries(root)
        println(f"[chain] $name shape=$shape n=$n " +
          f"first_decile=$firstMs%.3fms/commit " +
          f"last_decile=$lastMs%.3fms/commit ratio=$ratio%.2f " +
          f"root_entries=$entries")
        assert(ratio < 3.0,
          s"$name/$shape per-commit wall drifted super-linear over " +
            f"$n commits: $firstMs%.3f -> $lastMs%.3f ms")
        // rebuild: O(retain) dirs. append: the uncompacted tail's
        // version dirs are LIVE by design (the current listing still
        // references them) — bounded by the compaction cadence.
        val bound = if (append) compactEvery + 40 else 40
        assert(entries < bound,
          s"$name/$shape root accumulated $entries entries after $n " +
            s"commits (bound $bound — GC / commit-file pruning / " +
            "compaction is not bounding the directory)")
      }
    }
  }
}
