package graft

/** Session-conf A/B harness for the optimization rounds (guide §1):
  * `runMain graft.OptProbe <q1,q2,...> [sfDir] [reps] [variants]`
  * where `variants` is `label:k=v;k=v|label2:k=v|...` — times each
  * query under each SQL-conf variant IN ONE JVM (same codegen cache,
  * same block manager), interleaved A,B,A,B per rep so session drift
  * cannot masquerade as a conf effect. Prints min seconds per
  * (variant, query). SQL confs only — cluster confs need a restart. */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val variantSpec =
      if (args.length > 3) args(3) else "base:"
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val variants: Seq[(String, Map[String, String])] =
      variantSpec.split('|').toSeq.map { v =>
        val i = v.indexOf(':')
        require(i >= 0, s"bad variant token [$v] — want label:k=v;k=v")
        val label = v.substring(0, i)
        val kvs = v.substring(i + 1).split(';').filter(_.nonEmpty)
          .map { kv =>
            val j = kv.indexOf('=')
            require(j > 0, s"bad conf token [$kv] in variant [$label] — want k=v")
            kv.take(j) -> kv.drop(j + 1)
          }
          .toMap
        label -> kvs
      }
    val touched = variants.flatMap(_._2.keys).distinct
    val saved = touched.map(k => k -> spark.conf.getOption(k)).toMap
    // warmup: run every query once under base confs
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"WARMUP FAIL $n: $e") }
    }
    val acc = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    (1 to reps).foreach { _ =>
      variants.foreach { case (label, kvs) =>
        touched.foreach { k =>
          kvs.get(k).orElse(saved(k)) match {
            case Some(v) => spark.conf.set(k, v)
            case None => spark.conf.unset(k)
          }
        }
        names.foreach { n =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(n)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => println(s"FAIL $n [$label]: $e") }
          val dt = (System.nanoTime() - t0) / 1e9
          acc((label, n)) = dt :: acc((label, n))
        }
      }
    }
    println(f"${"query"}%-34s " +
      variants.map(v => f"${v._1}%12s").mkString(" "))
    names.foreach { n =>
      println(f"$n%-34s " + variants.map { case (l, _) =>
        f"${acc((l, n)).min}%12.3f" }.mkString(" "))
    }
    variants.foreach { case (l, _) =>
      println(f"TOTAL(min) $l%-20s ${names.map(n => acc((l, n)).min).sum}%.3f") }
    spark.stop()
  }
}
