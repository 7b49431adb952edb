package graft.core

import graft.SparkSpec

class TablesSpec extends SparkSpec {

  test("registerAll re-binds a view a caller shadowed or dropped (same dir)") {
    val fixture = spark.read.parquet(s"$sfDir/documents.parquet")
    def isFixture(): Boolean = {
      val v = spark.table("documents")
      v.exceptAll(fixture).isEmpty && fixture.exceptAll(v).isEmpty
    }
    val catalog = spark.sessionState.catalog
    try {
      Tables.registerAll(spark, sfDir)
      assert(isFixture())
      // an untouched view is a memo hit: the same relation stays bound
      val bound = catalog.getRawTempView("documents").get
      Tables.registerAll(spark, sfDir)
      assert(catalog.getRawTempView("documents").get eq bound)
      // shadowed by a caller, then the same registerAll call
      spark.range(3).toDF("doc_id").createOrReplaceTempView("documents")
      assert(spark.table("documents").count() == 3)
      Tables.registerAll(spark, sfDir)
      assert(isFixture())
      // dropped, then the same call
      spark.catalog.dropTempView("documents")
      Tables.registerAll(spark, sfDir)
      assert(isFixture())
    } finally Tables.registerAll(spark, sfDir)
  }
}
