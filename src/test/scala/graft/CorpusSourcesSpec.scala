package graft

import graft.sources.CorpusSources

class CorpusSourcesSpec extends SparkSpec {

  test("embeddings reader validates schema and normalizes columns") {
    val e = CorpusSources.embeddings(spark, "/root/testdata/sf0.001/embeddings.parquet")
    assert(e.columns.toSeq == Seq("id", "vec"))
    assert(e.schema("vec").dataType.simpleString == "array<double>")
    assert(e.count() > 0)
    val bad = intercept[IllegalArgumentException] {
      CorpusSources.embeddings(spark, "/root/testdata/sf0.001/documents.parquet")
    }
    assert(bad.getMessage.contains("vec_id/id"))
  }

  test("documents reader requires doc_id and text") {
    val d = CorpusSources.documents(spark, "/root/testdata/sf0.001/documents.parquet")
    assert(d.columns.contains("doc_id") && d.columns.contains("text"))
    intercept[IllegalArgumentException] {
      CorpusSources.documents(spark, "/root/testdata/sf0.001/embeddings.parquet")
    }
  }
}
