package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard: the index lifecycle (writer lease, swap recovery, atomic
  * renames, batch-id allocation) lives only in core.PersistedIndex, the
  * bounded-stream run (writeStream, AvailableNow, checkpoint, await)
  * only in core.BoundedStream, the nearest-centroid argmax only in
  * Similarity.argBest, the 64-bit Hamming band slice and the
  * document-postings index stores only in ext.NearDup, the quantizer
  * tables and the cell-partitioned layouts only in ext.VectorIndex, the
  * lifecycle templates and scratch copies only in core.IndexLifecycle,
  * atomic renames only in graft/core and snapshot version dirs only in
  * core.Versions, so no module can grow another hand-rolled copy of any
  * of them.
  */
class IndexLifecycleGuardSpec extends AnyFunSuite {

  private val Lifecycle = Seq("StagedSwap.recover", "WriterLease.withLease",
    "ATOMIC_MOVE", "startsWith(\"batch_id=\")")

  private def sources(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .flatMap(f => if (f.isDirectory) sources(f.getPath) else Seq(f))
      .filter(_.getName.endsWith(".scala"))

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)

  test("no lifecycle code under src/main/scala/graft/ext") {
    val ext = sources("src/main/scala/graft/ext")
    assert(ext.nonEmpty)
    for (f <- ext; (line, i) <- read(f).linesIterator.zipWithIndex; p <- Lifecycle)
      assert(!line.contains(p), s"${f.getName}:${i + 1} hand-rolls index lifecycle ($p)")
  }

  private val StreamRun = Seq(".writeStream", ".foreachBatch", "Trigger.AvailableNow()",
    "\"checkpointLocation\"", ".awaitTermination()")

  private val Runner = new java.io.File("src/main/scala/graft/core/BoundedStream.scala")

  test("bounded streams run only through core.BoundedStream, which holds every run pattern") {
    val main = sources("src/main/scala")
    assert(main.contains(Runner))
    for (f <- main if f != Runner; (line, i) <- read(f).linesIterator.zipWithIndex; p <- StreamRun)
      assert(!line.contains(p), s"${f.getName}:${i + 1} hand-rolls a stream run ($p)")
    val runner = read(Runner)
    StreamRun.foreach(p => assert(runner.contains(p), s"BoundedStream no longer contains $p"))
  }

  /** A running-best accumulator: `var best…`, or a score compared
    * against `best…` (`if (s > bestSim)`, `if (d < bestD)`).
    */
  private val Argmax = """\bvar best\w*|[<>]=? *best\w*""".r

  test("the nearest-centroid argmax loop lives only in Similarity.argBest") {
    val kernelFile = new java.io.File("src/main/scala/graft/ext/Similarity.scala")
    val kernel = read(kernelFile).linesIterator.indexWhere(_.contains("def argBest("))
    assert(kernel >= 0, "Similarity.argBest is gone")
    val hits = for {
      f <- sources("src/main/scala/graft/ext")
      (line, i) <- read(f).linesIterator.zipWithIndex
      if Argmax.findFirstIn(line).isDefined
    } yield (f, i, line)
    assert(hits.nonEmpty, "argBest no longer holds the accumulator")
    for ((f, i, line) <- hits)
      assert(f == kernelFile && i > kernel && i <= kernel + 3,
        s"${f.getName}:${i + 1} hand-rolls a nearest-centroid argmax: ${line.trim}")
  }

  private val BandSlice = Seq("bitwiseAND(lit(0xFFFFL))", "bitwiseAND(lit(65535L))")

  test("the 64-bit band slice lives only in NearDup; the document indexes are built there") {
    val kernelFile = new java.io.File("src/main/scala/graft/ext/NearDup.scala")
    assert(BandSlice.exists(read(kernelFile).contains), "NearDup no longer slices bands")
    for (f <- sources("src/main/scala/graft/ext") if f != kernelFile;
         (line, i) <- read(f).linesIterator.zipWithIndex; p <- BandSlice)
      assert(!line.contains(p), s"${f.getName}:${i + 1} hand-rolls a Hamming band slice ($p)")
    for (name <- Seq("Dedup.scala", "Multimodal.scala");
         (line, i) <- read(new java.io.File("src/main/scala/graft/ext", name)).linesIterator.zipWithIndex)
      assert(!line.contains("PersistedIndex("),
        s"$name:${i + 1} builds its own index store; document indexes are NearDup.DocIndex values")
  }

  private val Store = new java.io.File("src/main/scala/graft/ext/VectorIndex.scala")

  /** A quantizer table path (`centroids/`, `codebooks/`), or a partitioned write keyed by a cell. */
  private val QuantizerOrCellLayout = """"(centroids|codebooks)"|(?<!Window)\.partitionBy\([^)]*"cell""".r

  test("only the vector index store reads or writes a quantizer table or writes a cell-partitioned layout") {
    val store = read(Store)
    assert(Seq("\"centroids\"", "\"codebooks\"", ".partitionBy(").forall(store.contains),
      "VectorIndex no longer holds the quantizer store and the cell-layout writer")
    for (f <- sources("src/main/scala") if f != Store; (line, i) <- read(f).linesIterator.zipWithIndex)
      assert(QuantizerOrCellLayout.findFirstIn(line).isEmpty,
        s"${f.getName}:${i + 1} reads or writes an index's quantizer or cell layout itself: ${line.trim}")
  }

  private val Core = new java.io.File("src/main/scala/graft/core")

  private val VersionStore = new java.io.File("src/main/scala/graft/core/Versions.scala")

  /** A snapshot version dir: `File(root, s"v$n")` or its staging
    * `s".v$n"`, a path ending in `/v$n`, the `"v(\\d+)"` parse, or a
    * `version=N` / `.version_N` name.
    */
  private val VersionLayout = """File\([^)]*s"\.?v\$|/\.?v\$|"\.?v\(\\\\d|"\.?version[=_]""".r

  test("atomic renames stay in graft/core, and only core.Versions names a snapshot version dir") {
    val store = read(VersionStore)
    assert(VersionLayout.findAllIn(store).size >= 3, "Versions no longer names the version layout")
    for (f <- sources("src/main/scala"); (line, i) <- read(f).linesIterator.zipWithIndex) {
      if (line.contains("ATOMIC_MOVE"))
        assert(f.getParentFile == Core, s"${f.getName}:${i + 1} renames atomically outside graft/core")
      if (f != VersionStore)
        assert(VersionLayout.findFirstIn(line).isEmpty,
          s"${f.getName}:${i + 1} names a snapshot version dir; commit through core.Versions: ${line.trim}")
    }
  }

  private val Scenario = new java.io.File("src/main/scala/graft/core/IndexLifecycle.scala")

  private val TemplateCalls = Seq("ensureDerivedSeed(", "scratchFromSeed(")

  test("lifecycle templates and scratch copies are made only by the core scenario") {
    for (f <- sources("src/main/scala/graft/ext"); (line, i) <- read(f).linesIterator.zipWithIndex;
         p <- TemplateCalls)
      assert(!line.contains(p),
        s"${f.getName}:${i + 1} makes its own lifecycle template or copy ($p); declare a core.IndexLifecycle.Scenario")
    TemplateCalls.foreach(p =>
      assert(read(Scenario).contains(p), s"IndexLifecycle no longer contains $p"))
  }

  test("every index lifecycle entry is a core scenario, so Bench warms its seed, template and caches") {
    val lifecycle = Set("q_minhash_incremental", "s_minhash_ingest", "q_minhash_compact",
      "q_minhash_delete", "q_minhash_rebuild", "q_phash_incremental", "q_phash_delete",
      "q_phash_compact", "q_phash_rebuild", "s_phash_ingest", "q_ann_ivf_compact",
      "q_ann_ivf_delete", "q_ann_ivf_rebuild", "s_ann_ingest", "q_semdedup_incremental",
      "s_semdedup_ingest", "q_semdedup_compact", "q_semdedup_delete", "q_semdedup_rebuild")
    val scenarios = SparkEntry.queries.collect { case (n, _: graft.core.IndexLifecycle.Scenario) => n }
    assert(scenarios.toSet == lifecycle)
  }

  test("the guarded patterns are the ones the template uses") {
    val template = read(new java.io.File("src/main/scala/graft/core/PersistedIndex.scala"))
    Lifecycle.foreach(p =>
      assert(template.contains(p), s"PersistedIndex no longer contains $p"))
  }
}
