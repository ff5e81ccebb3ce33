package graft.sources

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[IndexStore.deleteRecursively]] is the one store delete (publish,
  * superseded-generation cleanup, `SPARK_GRAFT_CLEAR_STORES`); it must
  * never reach through a symbolic link. */
class IndexStoreSpec extends AnyFunSuite {

  test("store delete removes symlinks without following them") {
    val root = Files.createTempDirectory("index_store_spec").toFile
    try {
      val outside = new File(root, "outside")
      outside.mkdir()
      val kept = new File(outside, "keep.txt")
      Files.write(kept.toPath, "x".getBytes("UTF-8"))

      // a link inside a store, and a store that is itself a link
      val store = new File(root, "graft_store_1")
      new File(store, "part").mkdirs()
      Files.write(new File(store, "part/data.parquet").toPath, "y".getBytes("UTF-8"))
      Files.createSymbolicLink(new File(store, "link").toPath, outside.toPath)
      val linkStore = new File(root, "graft_store_2")
      Files.createSymbolicLink(linkStore.toPath, outside.toPath)

      IndexStore.deleteRecursively(store)
      IndexStore.deleteRecursively(linkStore)

      assert(!store.exists() && !Files.exists(linkStore.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(kept.isFile, "the link target's file was deleted")
    } finally IndexStore.deleteRecursively(root)
  }
}
