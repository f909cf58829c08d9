package graftbench

import graft.index.IndexBuilder

/** Save/load timing and the saved postings layout over the perfbench search
  * corpus: args `seed workDir reps`. Per rep: build, save (timed), unpersist
  * the build, load + cache the term dictionary (timed), as
  * `QueryExec.buildSaveLoad` does. Then the last save's postings/ files.
  */
object LayoutProbe {
  def main(args: Array[String]): Unit = {
    val Array(seed, work, reps) = args
    val spark = Main.session(4, work)
    spark.sparkContext.setLogLevel("ERROR")
    val src = Main.sourceFrame(spark, Gen.corpus(seed.toLong, SearchWorkload.Docs), 4).cache()
    src.count()
    var dir = ""
    for (i <- 1 to reps.toInt) {
      dir = s"$work/index-$i"
      val built = IndexBuilder.build(src, QueryExec.schema)
      val t0 = System.nanoTime
      built.save(dir)
      val t1 = System.nanoTime
      built.docs.unpersist(); built.blocks.unpersist()
      val t2 = System.nanoTime
      val idx = IndexBuilder.load(spark, dir)
      idx.termDict.cache().count()
      val t3 = System.nanoTime
      idx.termDict.unpersist()
      println(f"""{"rep": $i, "save_s": ${(t1 - t0) / 1e9}%.3f, "load_s": ${(t3 - t2) / 1e9}%.3f}""")
    }
    for (t <- Seq("postings", "docs", "termdict")) {
      val files = new java.io.File(s"$dir/$t").listFiles.filter(_.getName.endsWith(".parquet"))
      val names = files.map(_.getName).sorted
      println(s"""{"table": "$t", "files": ${files.length}, "bytes": ${files.map(_.length).sum}, """ +
        s""""first": "${names.head}", "last": "${names.last}"}""")
    }
    println(s"""{"manifest": ${scala.io.Source.fromFile(s"$dir/manifest").mkString.split("\n")
      .filter(_.startsWith("buckets")).mkString("[\"", "\", \"", "\"]").replace("[\"\"]", "[]")}}""")
    spark.stop()
    Main.deleteRecursively(new java.io.File(work))
  }
}
