package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One ingest sink wired to throwaway directories: two source batches,
  * the sink started over them against a given checkpoint, and the
  * roots it writes (a root holding a `_GRAFT_META` manifest expands to
  * its family's substores). Built fresh per use.
  *
  * @param volatileCols per table path, columns whose values a replay
  *                     may legitimately change (file paths of rewritten
  *                     parquet parts) and that row comparisons skip */
final case class SinkFixture(name: String, roots: Seq[String],
                             deliver: Int => Unit,
                             start: String => StreamingQuery,
                             volatileCols: Map[String, Seq[String]] = Map.empty)

/** The ingest sinks of [[Streaming]] (every one but `mergeSink`), each
  * over a small two-batch input. */
object SinkFixtures {

  private def dir(tag: String): String =
    Files.createTempDirectory(s"graft-fx-$tag").toString

  /** Source dir + two batches (as frames) + the file stream over them. */
  private final class Source(spark: SparkSession, tag: String,
                             batches: Seq[DataFrame]) {
    val path: String = dir(s"$tag-src")
    def deliver(i: Int): Unit = batches(i).write.parquet(s"$path/b$i")
    def stream: DataFrame = Streaming.fileStream(spark,
      spark.read.parquet(s"$path/b0").schema, s"$path/*")
  }

  private def fixture(spark: SparkSession, name: String,
                      batches: Seq[DataFrame], roots: Seq[String],
                      volatileCols: Map[String, Seq[String]] = Map.empty)(
      start: (DataFrame, String) => StreamingQuery): SinkFixture = {
    val src = new Source(spark, name, batches)
    SinkFixture(name, roots, src.deliver, ckp => start(src.stream, ckp),
      volatileCols)
  }

  def all(spark: SparkSession): Seq[(String, () => SinkFixture)] = {
    import spark.implicits._
    def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")
    val textBatches = Seq(
      docs(1L -> "alpha beta gamma delta epsilon\nall rights reserved",
        2L -> "alpha beta gamma delta epsilon\nall rights reserved",
        3L -> "completely different tokens appear here now"),
      docs(11L -> "alpha beta gamma delta epsilon\nshared footer line",
        12L -> "novel twelve document payload words\nshared footer line",
        13L -> "iota kappa lambda mu nu xi"))
    val rnd = new scala.util.Random(71)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val c1 = vec()
    def near() = c1.map(x => x + 0.05f * rnd.nextGaussian().toFloat)
    val vecBatches = Seq(
      ((0L until 6L).map(i => (i, near())) ++
        (6L until 14L).map(i => (i, vec()))).toDF("vec_id", "embedding"),
      ((100L until 103L).map(i => (i, near())) ++
        (103L until 108L).map(i => (i, vec()))).toDF("vec_id", "embedding"))
    def corpusAndIndex(tag: String) = (dir(tag) + "/c", dir(tag) + "/i")

    Seq[(String, () => SinkFixture)](
      "dedupIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("dedup")
        fixture(spark, "dedup", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.dedupIngestSink(s, spark, c, i, "text", "doc_id", ckp)
        }
      },
      "ivfIngestSink" -> { () =>
        import graft.operators.Similarity
        val i = dir("ivf") + "/ivf"
        val corpus = (1000L until 1020L).map(n => (n, vec()))
          .toDF("vec_id", "embedding")
        Similarity.ivfIndexWrite(Similarity.ivfIndex(corpus,
          Similarity.pickCentroids(corpus, "vec_id", "embedding", 3),
          "vec_id", "embedding"), i)
        fixture(spark, "ivf", vecBatches, Seq(i)) { (s, ckp) =>
          Streaming.ivfIngestSink(s, spark, i, "vec_id", "embedding", ckp)
        }
      },
      "zoneMapIngestSink" -> { () =>
        val (c, m) = corpusAndIndex("zm")
        fixture(spark, "zm", Seq(
          (0L until 20L).map(n => (n, n * 10)).toDF("id", "v"),
          (20L until 40L).map(n => (n, n * 10)).toDF("id", "v")),
          Seq(c, m), volatileCols = Map(m -> Seq("file"))) { (s, ckp) =>
          Streaming.zoneMapIngestSink(s, spark, c, m, Seq("v"), ckp)
        }
      },
      "lineDedupIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("ld")
        fixture(spark, "ld", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.lineDedupIngestSink(s, spark, c, i, "text", "doc_id",
            ckp, sep = "\n")
        }
      },
      "boilerplateIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("bp")
        fixture(spark, "bp", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.boilerplateIngestSink(s, spark, c, i, "text", "doc_id",
            ckp, sep = "\n", minDocs = 2)
        }
      },
      "domainCapIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("cap")
        fixture(spark, "cap", Seq(
          Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a")).toDF("id", "dom"),
          Seq((10L, "a"), (11L, "a"), (12L, "c")).toDF("id", "dom")),
          Seq(c, i)) { (s, ckp) =>
          Streaming.domainCapIngestSink(s, spark, c, i, "dom", "id", ckp,
            maxPerKey = 4, keyName = "dom")
        }
      },
      "sampleSketchIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("sk")
        fixture(spark, "sk", Seq(
          (1L to 20L).map(n => (s"g${n % 2}", n, n * 1.5)).toDF("grp", "id", "v"),
          (21L to 40L).map(n => (s"g${n % 2}", n, n * 1.5)).toDF("grp", "id", "v")),
          Seq(c, i)) { (s, ckp) =>
          Streaming.sampleSketchIngestSink(s, spark, c, i, "grp", "id", "v",
            4, ckp)
        }
      },
      "hllIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("hll")
        fixture(spark, "hll", Seq(
          (1L to 50L).map(n => (s"g${n % 2}", n)).toDF("grp", "v"),
          (40L to 90L).map(n => (s"g${n % 2}", n)).toDF("grp", "v")),
          Seq(c, i)) { (s, ckp) =>
          Streaming.hllIngestSink(s, spark, c, i, "grp", "v", 6, ckp)
        }
      },
      "kmvIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("kmv")
        fixture(spark, "kmv", Seq(
          (1L to 50L).map(n => (s"g${n % 2}", n)).toDF("grp", "v"),
          (40L to 90L).map(n => (s"g${n % 2}", n)).toDF("grp", "v")),
          Seq(c, i)) { (s, ckp) =>
          Streaming.kmvIngestSink(s, spark, c, i, "grp", "v", 8, ckp)
        }
      },
      "cmsIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("cms")
        fixture(spark, "cms", Seq(Seq("x", "x", "y").toDF("item"),
          Seq("x", "z").toDF("item")), Seq(c, i)) { (s, ckp) =>
          Streaming.cmsIngestSink(s, spark, c, i, "item", 3, 64, ckp)
        }
      },
      "islandsIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("isl")
        fixture(spark, "isl", Seq(
          Seq(("k1", 1L, 5L), ("k2", 0L, 3L)).toDF("k", "s", "e"),
          Seq(("k1", 4L, 9L), ("k2", 10L, 12L)).toDF("k", "s", "e")),
          Seq(c, i)) { (s, ckp) =>
          Streaming.islandsIngestSink(s, spark, c, i, "k", "s", "e", ckp)
        }
      },
      "digestIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("dg")
        fixture(spark, "dg", Seq(
          Seq(("d1", 1L, "x"), ("d2", 2L, "y")).toDF("day", "k", "v"),
          Seq(("d1", 3L, "z"), ("d3", 4L, "w")).toDF("day", "k", "v")),
          Seq(c, i)) { (s, ckp) =>
          Streaming.digestIngestSink(s, spark, c, i, Seq("k", "v"), "day", ckp)
        }
      },
      "gramFreqIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("gram")
        fixture(spark, "gram", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.gramFreqIngestSink(s, spark, c, i, "doc_id", "text",
            ckp, n = 3)
        }
      },
      "lmIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("lm")
        fixture(spark, "lm", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.lmIngestSink(s, spark, c, i, "doc_id", "text", ckp,
            ctxBuckets = 64, bigramBuckets = 256)
        }
      },
      "qualityGateIngestSink" -> { () =>
        import graft.operators.{LmFilter, Quality}
        val (c, r) = corpusAndIndex("qg")
        val lm = dir("qg-lm") + "/lm"
        val cuts = dir("qg-cuts") + "/q"
        val ref = (0 until 10).map(n =>
          (n.toLong, "alpha beta gamma delta alpha beta gamma delta"))
          .toDF("doc_id", "text")
        LmFilter.lmIndexWrite(LmFilter.lmIndex(ref, "doc_id", "text"), lm,
          4096, 32768)
        val calib = (for (src <- Seq("web", "ref"); n <- 0 until 6) yield
          (n.toLong + (if (src == "web") 1000L else 2000L), src,
            if (n < 4) "alpha beta gamma delta alpha beta"
            else s"zeta$n eta$n theta$n iota$n")).toDF("doc_id", "source", "text")
        Quality.qualityCutsWrite(spark, cuts, Quality.qualityCuts(
          calib.join(LmFilter.lmPerplexity(calib, "doc_id", "text",
            LmFilter.lmIndexRead(spark, lm, 4096, 32768))
            .select("doc_id", "ppl"), Seq("doc_id")), "ppl", Seq("source")),
          "ppl", Seq("source"))
        def gateDocs(rows: (Long, String, String)*) =
          rows.toDF("doc_id", "source", "text")
        fixture(spark, "qg", Seq(
          gateDocs((1L, "web", "alpha beta gamma delta alpha beta gamma"),
            (2L, "web", "omega psi chi phi upsilon tau sigma rho")),
          gateDocs((3L, "ref", "alpha beta gamma delta"),
            (4L, "mystery", "alpha beta gamma delta alpha beta"))),
          Seq(c, r)) { (s, ckp) =>
          Streaming.qualityGateIngestSink(s, spark, c, r, lm, cuts,
            "doc_id", "text", "source", ckp)
        }
      },
      "certIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("cert")
        val (l, lb) = corpusAndIndex("cert-l")
        fixture(spark, "cert", textBatches, Seq(c, l, i, lb)) { (s, ckp) =>
          Streaming.certIngestSink(s, spark, c, l, i, "doc_id", "text", ckp,
            threshold = 0.5, labelsPath = Some(lb))
        }
      },
      "certVecIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("vcert")
        val (l, lb) = corpusAndIndex("vcert-l")
        fixture(spark, "vcert", vecBatches, Seq(c, l, i, lb)) { (s, ckp) =>
          Streaming.certVecIngestSink(s, spark, c, l, i, "vec_id",
            "embedding", ckp, threshold = 0.9, labelsPath = Some(lb))
        }
      },
      "nearDupIngestSink" -> { () =>
        val (c, i) = corpusAndIndex("ndup")
        fixture(spark, "ndup", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.nearDupIngestSink(s, spark, c, i, "doc_id", "text", ckp)
        }
      },
      "bm25IngestSink" -> { () =>
        val (c, i) = corpusAndIndex("bm25")
        fixture(spark, "bm25", textBatches, Seq(c, i)) { (s, ckp) =>
          Streaming.bm25IngestSink(s, spark, c, i, "doc_id", "text", ckp)
        }
      })
  }

  /** Every parquet table under a fixture root: the root itself, or —
    * for a store with a `_GRAFT_META` manifest — each substore its
    * family declares. */
  def tables(spark: SparkSession, root: String): Seq[String] =
    graft.operators.IndexMeta.read(spark, root)
      .flatMap(graft.operators.Maintenance.familyOf)
      .map(_.substores.map(_.path(root)))
      .getOrElse(Seq(root))

  /** A table's rows as a sorted multiset of strings (absent → empty). */
  def rows(spark: SparkSession, table: String,
           skip: Seq[String] = Nil): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(table)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def hasData = {
      val files = fs.listFiles(p, true)
      var found = false
      while (!found && files.hasNext) found = files.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (!fs.exists(p) || !hasData) Nil
    else {
      val df = spark.read.parquet(table)
      df.select(df.columns.filterNot(skip.contains).sorted.map(col).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq.sorted
    }
  }
}
