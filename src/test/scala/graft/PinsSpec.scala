package graft

/** Ownership contract for intra-plan persists ([[Pins]]): operators
  * register every cache they take — with the innermost open
  * [[Pins.scope]], which releases them when it ends, or else with the
  * global queue the driving loop's release() empties (Verify/Bench per
  * query, GraftSpec per test). Correctness never depends on the pin —
  * releasing early only costs recompute — so the assertions here are
  * about lifetime, not values. */
class PinsSpec extends GraftSpec {
  import spark.implicits._
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.storage.StorageLevel

  /** A small frame whose plan no other test caches (`tag` keeps the
    * plans of one test's frames apart: the cache matches by plan). */
  private def frame(tag: Long): DataFrame =
    spark.range(0, 50).toDF("id")
      .withColumn("v", $"id" * 7919L + tag)

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  /** Persisted RDDs that are caches, not local checkpoints (a lineage
    * cut keeps its blocks in a persisted RDD until the RDD is
    * garbage-collected — see [[graft.operators.Ckpt]]). */
  private def cachedRdds: Int =
    spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)

  test("an exception inside Pins.scope leaves none of its pins or cached RDDs") {
    Pins.release()
    val rdds0 = cachedRdds
    var taken = Seq.empty[DataFrame]
    val boom = intercept[IllegalStateException] {
      Pins.scope {
        taken = Seq(Pins.pin(frame(101)), Pins.pin(frame(102)))
        taken.foreach(_.count()) // materialize both caches
        assert(taken.forall(cached))
        assert(cachedRdds == rdds0 + 2)
        throw new IllegalStateException("mid-scope failure")
      }
    }
    assert(boom.getMessage == "mid-scope failure")
    assert(taken.size == 2 && !taken.exists(cached))
    assert(cachedRdds == rdds0)
    assert(Pins.pending == 0)
  }

  test("a nested scope releases only its own pins") {
    var outer: DataFrame = null
    var inner: DataFrame = null
    val got = Pins.scope {
      outer = Pins.pin(frame(201))
      val n = Pins.scope {
        inner = Pins.pin(frame(202))
        assert(cached(outer) && cached(inner))
        inner.count()
      }
      assert(!cached(inner), "the inner scope's pin outlived it")
      assert(cached(outer), "the inner scope released its parent's pin")
      n + outer.count()
    }
    assert(got == 100L)
    assert(!cached(outer))
  }

  test("a pin taken outside any scope survives a scope and counts until release") {
    Pins.release()
    val global = Pins.pin(frame(301))
    var scoped: DataFrame = null
    Pins.scope { scoped = Pins.pin(frame(302)); scoped.count() }
    assert(!cached(scoped))
    assert(cached(global))
    assert(Pins.pending == 1)
    Pins.release()
    assert(!cached(global))
    assert(Pins.pending == 0)
  }

  test("src/main takes no persist or cache outside Pins and Ckpt") {
    import scala.jdk.CollectionConverters._
    val owners = Set("Pins.scala", "Ckpt.scala")
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator().asScala
      .filter(f => f.toString.endsWith(".scala") &&
        !owners(f.getFileName.toString))
      .toSeq
    assert(files.size > 50, s"src/main not found from ${new java.io.File(".").getAbsolutePath}")
    val hits = for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".persist(") || line.contains(".cache()")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }

  test("a pin-using operator registers; release empties the registry") {
    Pins.release() // clean slate
    assert(Pins.pending == 0)
    val docs = Tables.documents(spark, SF)
    val out = graft.operators.TextAnalysis.q89(docs) // pins its tf frame
    out.write.format("noop").mode("overwrite").save()
    assert(Pins.pending > 0)
    Pins.release()
    assert(Pins.pending == 0)
  }

  test("released pins still compute correctly (cache-only semantics)") {
    val docs = Seq((1L, "alpha beta beta"), (2L, "beta gamma gamma"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")))
    val r1 = graft.operators.TextAnalysis.q89(docs).collect().map(_.toSeq)
    Pins.release() // drop the caches mid-lifetime of the returned frame
    val r2 = graft.operators.TextAnalysis.q89(docs).collect().map(_.toSeq)
    assert(r1.toSeq == r2.toSeq)
    Pins.release()
  }
}
