package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.io.Store

/** The store path grammar and the sweep rule, on temp dirs, no Spark. */
class StoreSpec extends AnyFunSuite {
  private def fixture(): String = {
    val d = Files.createTempDirectory("graft-store-fx").toFile
    Seq("documents", "embeddings", "events").zipWithIndex.foreach { case (t, i) =>
      Files.write(new File(d, s"$t.parquet").toPath, Array.fill(i + 1)(0.toByte))
    }
    d.getPath
  }

  test("Store.dir embeds the family version and its table's stamp; " +
      "families are disjoint; same inputs give the same path") {
    val fx = fixture()
    Store.Families.foreach { f =>
      val p = Store.dir(f, fx, "k")
      assert(p.startsWith(f.root + "/"))
      assert(p.endsWith(s"-k-${f.name}${f.version}-" +
        Store.fsStamp(s"$fx/${f.table}.parquet")), p)
      assert(Store.dir(f, fx, "k") == p)
    }
    val all = Store.Families.map(Store.dir(_, fx, "k"))
    assert(all.distinct.size == all.size, s"two families share a path: $all")
  }

  test("sweep removes only superseded store dirs older than the grace window") {
    val root = Files.createTempDirectory("graft-store-root").toFile
    val now = System.currentTimeMillis()
    val old = now - Store.SweepGraceMs - 60000
    def mk(name: String, mtime: Long): File = {
      val f = new File(root, name)
      f.mkdirs()
      new File(f, "_SUCCESS").createNewFile()
      f.setLastModified(mtime)
      f
    }
    val current = new File(Store.dir(Store.Sig, fixture(), "pairs")).getName
    val superseded = current.replace(s"-sig${Store.Sig.version}-", "-sig0-")
    val oldSuperseded = mk(superseded, old)
    val freshSuperseded = mk(superseded.replace("-pairs-", "-labels-"), now)
    val oldCurrent = mk(current, old)
    val oldTmp = mk(s"$superseded.tmp-1-2", old)
    val oldUnparsed = mk("t_fx-pairs-v3.p8-0123456789ab", old)
    val lock = new File(root, s"$superseded.lock")
    lock.createNewFile()
    lock.setLastModified(old)
    Store.sweep(root, now)
    assert(!oldSuperseded.exists() && !oldUnparsed.exists())
    assert(freshSuperseded.exists() && oldCurrent.exists() && oldTmp.exists() &&
      lock.exists())
  }
}
