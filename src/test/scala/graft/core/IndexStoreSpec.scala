package graft.core

import graft.SparkSpec

/** `IndexStore.buildSeconds` keeps one record per build: a prefix built
  * for two data dirs is two builds, and a caller that counts builds by
  * dropping the records it saw before must see both.
  */
class IndexStoreSpec extends SparkSpec {

  test("two dirs under one prefix leave two build records") {
    val before = IndexStore.buildSeconds.size
    val tables = Seq("dir/a", "dir/b").map { dir =>
      IndexStore.ensure(spark, "buildlogspec", dir)(spark.range(0, 10).toDF())
    }
    try {
      val added = IndexStore.buildSeconds.drop(before)
      assert(added.map(_._1) == Seq("buildlogspec", "buildlogspec"),
        s"records after two builds: $added")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
