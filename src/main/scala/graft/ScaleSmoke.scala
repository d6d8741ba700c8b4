package graft

import org.apache.spark.sql.functions._

/** Decade replica builder: writes an N×-unioned copy of the sf0.1 tables
  * (N = SPARK_GRAFT_SCALE_FACTOR, default 10 — ~6M-row lineitem, 1M
  * events, 50k docs) so the registered queries can be timed one or more
  * orders of magnitude up. Ids are re-keyed per replica so keyed
  * operators see distinct entities, not N copies of one.
  *
  * Decade timing is two steps — build the replica, then point Bench at it:
  * {{{
  *   SPARK_GRAFT_SCALE_DIR=<replica> sbt "runMain graft.ScaleSmoke <sf0.1 dir>"
  *   SPARK_GRAFT_SF_DIR=<replica> sbt "runMain graft.Bench"
  * }}}
  * Bench sizes the AQE ceiling from the replica's bytes (the 2×-cores rule
  * in [[GraftSession.initPartitionsFor]]) and routes a sweep over any dir
  * other than the committed artifact's to `BENCH_full.partial.json`.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    // SPARK_GRAFT_SCALE_DIR pins the amplified-table location and reuses
    // it when already built — iterating on one query no longer pays the
    // multi-GB rebuild each run
    val pinned = sys.env.get("SPARK_GRAFT_SCALE_DIR")
    val out = pinned.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_scale_").toString)
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    // reuse only a COMPLETE build OF THIS SHAPE: the marker (written after
    // the last table commits) records base+factor, so a pinned dir built
    // at 10× is rebuilt — not silently reused — when a 30× run asks for
    // it. Pre-marker dirs (or interrupted builds) always rebuild.
    val marker = new java.io.File(out, "_graft_scale_build")
    val stamp = s"base=$base factor=$factor"
    val rebuild = pinned.forall { _ =>
      !marker.exists() ||
        scala.util.Try(java.nio.file.Files.readString(marker.toPath).trim)
          .getOrElse("") != stamp
    }
    if (rebuild) {
      val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS")
        .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
      def amplify(name: String, keyCols: Map[String, Long]): Unit = {
        val src = Tables.table(spark, base, name)
        val copies = (0 until factor).map { r =>
          keyCols.foldLeft(src) { case (df, (c, stride)) =>
            df.withColumn(c, col(c) + lit(r * stride))
          }
        }.reduce(_ unionByName _)
        copies.write.mode("overwrite").parquet(s"$out/$name.parquet")
      }
      // strides larger than any real key range keep replicas disjoint
      amplify("lineitem", Map("l_orderkey" -> 10000000L))
      amplify("orders", Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
      amplify("customer", Map("c_custkey" -> 1000000L))
      amplify("events", Map("event_id" -> 10000000L, "user_id" -> 1000000L))
      amplify("documents", Map("doc_id" -> 1000000L))
      amplify("embeddings", Map("vec_id" -> 1000000L))
      Seq("region", "nation", "supplier", "part").foreach { t =>
        Tables.table(spark, base, t).write.mode("overwrite")
          .parquet(s"$out/$t.parquet")
      }
      java.nio.file.Files.writeString(marker.toPath, stamp + "\n")
      spark.stop()
    }
    println(s"[scale] ${factor}x replica of $base at $out" +
      (if (rebuild) "" else " (reused)"))
  }
}
