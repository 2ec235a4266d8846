package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-set audit of the store-mutation protocol — the PersistAuditSpec
  * discipline applied to the swap: `operators/StoredTable.scala` is the one
  * module that knows it, so no other main source may name the swap
  * sentinel, the recoverable swap or the writer pool, or hand-roll the
  * leftover pre-flight (`Seq(sentinel, trash)`) or the staged-output
  * refusal. A family that needs one of them calls the core instead; a
  * hand-rolled copy that comes back fails this spec.
  */
class StoreProtocolAuditSpec extends AnyFunSuite {

  test("only StoredTable.scala knows the store-mutation protocol") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the repo root; cwd=${System.getProperty("user.dir")}")
    val markers = Seq("MaintenanceSentinel", ".compact_inprogress", "recoverableSwap",
      "writerPool", "Seq(sentinel, trash)", "staged rewrite missing")
    val found = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    val it = java.nio.file.Files.walk(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        def count(m: String): Int =
          Iterator.iterate(src.indexOf(m))(i => src.indexOf(m, i + 1)).takeWhile(_ >= 0).size
        val hits = markers.map(m => m -> count(m)).filter(_._2 > 0)
        if (hits.nonEmpty) found(root.relativize(p).toString) = hits.toMap
      }
    }
    val core = "graft/operators/StoredTable.scala"
    assert(found.keySet == Set(core),
      s"store-protocol code outside $core — call the core instead:\n  " +
        found.toSeq.sortBy(_._1).map { case (f, h) => s"$f: $h" }.mkString("\n  "))
    assert(found(core).get("Seq(sentinel, trash)").contains(1) &&
      found(core).get("staged rewrite missing").contains(1),
      s"the core keeps ONE pre-flight and ONE staged-output check: ${found(core)}")
  }

  test("only StoredTable.scala starts a store write or resolves a FileSystem") {
    // operators/ and streaming/ write and reach files only through the
    // spawn-free helpers: `ds.storeWrite` and `StoredTable.fileSystem`. A
    // bare `.write.` chain or `getFileSystem(` there would fall back to the
    // session's local file system, which starts a chmod process per file.
    // The one exception is Layout.writeBucketed's catalog table: saveAsTable
    // would keep storeWrite's options as the table's storage properties.
    val bareWrite = """\.write\s*\.""".r
    val fsLookup = """getFileSystem\(""".r
    val found = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    for (dir <- Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")) {
      val root = java.nio.file.Paths.get(dir)
      assert(java.nio.file.Files.isDirectory(root),
        s"expected to run from the repo root; cwd=${System.getProperty("user.dir")}")
      val it = java.nio.file.Files.list(root).iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.toString.endsWith(".scala")) {
          val src = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8)
          val hits = Map(
            ".write." -> bareWrite.findAllMatchIn(src).size,
            "getFileSystem(" -> fsLookup.findAllMatchIn(src).size).filter(_._2 > 0)
          if (hits.nonEmpty) found(p.toString) = hits
        }
      }
    }
    val core = "src/main/scala/graft/operators/StoredTable.scala"
    val catalogWrite = "src/main/scala/graft/operators/Layout.scala" -> Map(".write." -> 1)
    assert((found - core).toMap == Map(catalogWrite),
      s"store writes or file systems outside $core — use storeWrite / StoredTable.fileSystem:\n  " +
        found.toSeq.sortBy(_._1).map { case (f, h) => s"$f: $h" }.mkString("\n  "))
    assert(found.get(core).contains(Map(".write." -> 1, "getFileSystem(" -> 1)),
      s"the core keeps ONE write start and ONE file-system lookup: ${found.get(core)}")
  }

  test("only StoredTable.clusteredStage range-stages a maintenance rewrite") {
    // a range exchange samples its child, so a range-partitioned write of
    // an unpersisted frame runs the frame's plan twice; the restage owns
    // the persist. Every other range site in operators/ is pinned here:
    // TextIndex's append pipelines, Layout's clustered layouts and
    // Corpus's sorted token tables. Comment and scaladoc lines are skipped.
    val root = java.nio.file.Paths.get("src/main/scala/graft/operators")
    assert(java.nio.file.Files.isDirectory(root),
      s"expected to run from the repo root; cwd=${System.getProperty("user.dir")}")
    val found = scala.collection.mutable.Map.empty[String, Int]
    val it = java.nio.file.Files.list(root).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.toString.endsWith(".scala")) {
        val n = java.nio.file.Files.readAllLines(p).toArray(Array.empty[String]).count { line =>
          val t = line.trim
          !t.startsWith("*") && !t.startsWith("/*") && !t.startsWith("//") &&
            t.contains("repartitionByRange(")
        }
        if (n > 0) found(p.getFileName.toString) = n
      }
    }
    val allowed = Map("StoredTable.scala" -> 1, "TextIndex.scala" -> 4,
      "Layout.scala" -> 3, "Corpus.scala" -> 2)
    assert(found.toMap == allowed,
      s"repartitionByRange drift — stage a maintenance rewrite through " +
        s"StoredTable.clusteredStage instead.\n  found:   ${found.toMap.toSeq.sorted}\n  " +
        s"allowed: ${allowed.toSeq.sorted}")
  }
}
