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
}
