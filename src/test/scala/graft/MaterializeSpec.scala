package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.ops.{Bpe, Dedup, Kmeans, Pq, QualityModel}

/** graft's one materialization policy (`ops.materialize` / `ops.iterate` /
  * `ops.release`): what the iterative ops leave persisted, where their
  * checkpoints go, and that no other file checkpoints on its own. */
class MaterializeSpec extends SparkSuite {

  test("each iterative op frees every copy it made except the ones its result reads") {
    val sc = spark.sparkContext
    for ((name, run) <- MaterializeSpec.iterativeOps(this)) {
      // a set difference, not a count: the async ContextCleaner can only
      // remove ids, so it cannot make a leak pass or a clean op fail
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      val left = sc.getPersistentRDDs.keySet -- before
      val behind = out match {
        case df: Dataset[_] => df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet
        case _ => Set.empty[Int]
      }
      assert(left.subsetOf(behind), s"$name leaves ${left.size} persisted RDDs, its result reads $behind")
    }
  }

  test("with a checkpoint dir set, the iterative ops checkpoint reliably and return the same results") {
    val sc = spark.sparkContext
    val dir = Files.createTempDirectory("graft_ckpt")
    def files = Files.walk(dir).iterator.asScala.count(Files.isRegularFile(_))
    val reliable = try {
      sc.setCheckpointDir(dir.toString)
      MaterializeSpec.iterativeOps(this).map { case (name, run) =>
        val written = files
        val out = MaterializeSpec.canon(run())
        assert(files > written, s"$name wrote no checkpoint file")
        name -> out
      }
    } finally {
      sc.setCheckpointDir(null) // every later suite stays on local checkpoints
      Files.walk(dir).iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
    assert(sc.getCheckpointDir.isEmpty)
    val local = MaterializeSpec.iterativeOps(this).map { case (name, run) =>
      name -> MaterializeSpec.canon(run())
    }
    assert(reliable == local)
  }

  test("only ops/package.scala checkpoints: no other file forks the materialization policy") {
    val root = Paths.get("src/main/scala/graft")
    val policy = root.resolve("ops/package.scala")
    def calls(p: Path) = Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (l, i) if l.contains("localCheckpoint(") || l.contains(".checkpoint(") => s"$p:${i + 1}: ${l.trim}"
    }
    assert(calls(policy).nonEmpty, s"$policy no longer checkpoints; the scan below would prove nothing")
    val forks = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != policy)
      .flatMap(calls).toList
    assert(forks.isEmpty, forks.mkString("checkpoint outside ops/package.scala:\n", "\n", ""))
  }
}

object MaterializeSpec {

  /** The five ops that run on `ops.iterate`, each on a small input that
    * takes several rounds, as (op name, call). A call returns the op's
    * result: a frame, or BPE's merge table. */
  def iterativeOps(s: SparkSuite): Seq[(String, () => Any)] = {
    import s.spark.implicits._
    // inputs are built here, so the calls launch only the ops' own jobs
    val emb = s.table("embeddings").select(col("vec_id"), col("embedding"))
    val docs = (0 until 60).map { i =>
      val text = if (i % 2 == 0) s"filler_${i % 7} words quality marker" else s"filler_${i % 7} words junk"
      (i.toLong, text, (1 - i % 2).toDouble)
    }.toDF("id", "text", "y")
    Seq(
      "cc" -> (() => Dedup.connectedComponents((1L until 64L).map(i => (i, i + 1)).toDF("a", "b"), "a", "b")),
      "bpe" -> (() => Bpe.train(Seq("low " * 5, "lower " * 2, "newest " * 6, "widest " * 3)
        .map(_.trim).toDF("text"), "text", numMerges = 6, batchTopK = 2)),
      "kmeans" -> (() => Kmeans.train(emb, "vec_id", "embedding", k = 4, iters = 3)),
      "pq" -> (() => Pq.trainCodebooks(emb, "vec_id", "embedding", m = 4, ksub = 4, iters = 3)),
      "quality" -> (() => QualityModel.trainLogReg(QualityModel.hashedFeatures(docs, "id", "text", 16),
        docs.select(col("id"), col("y")), "id", dim = 16, iters = 3, lr = 2.0)))
  }

  /** An op's result as a comparable value: a frame's rows in a fixed order,
    * arrays as Seqs; anything else as it is. */
  def canon(out: Any): Any = out match {
    case df: Dataset[_] =>
      df.toDF().collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).sortBy(_.mkString("\u0000")).toSeq
    case x => x
  }
}
