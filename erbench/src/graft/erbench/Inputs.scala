package graft.erbench

import graft.operators.Dedup
import graft.sources.TranscriptGen
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark inputs. Everything derives from the run's seed; the program
  * under test only ever sees the generated tables. */
object Inputs {

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic hash of (seed, salt, parts…) for seeded choices. */
  def mix(parts: Long*): Long = parts.foldLeft(0x2545f4914f6cdd1dL)((a, p) => splitmix64(a ^ p))

  /** `n` in [0, bound). */
  def pick(h: Long, bound: Int): Int = java.lang.Math.floorMod(h >>> 1, bound.toLong).toInt

  /** Directory of the transcript corpus of `cfg`, generated once into a
    * parquet cache under `cacheRoot`. The cache directory is keyed on every
    * `GenConfig` field, so a different seed, size or shape never reuses
    * another corpus. Generation writes to a private temp directory that is
    * renamed into place only when complete. */
  def corpus(spark: SparkSession, cfg: TranscriptGen.GenConfig, cacheRoot: String): String = {
    val key = cfg.productElementNames.zip(cfg.productIterator)
      .map { case (n, v) => s"$n=$v" }.mkString(",")
    val dir = Paths.get(cacheRoot, "transcripts-" + graft.functions.MinHash.md5Hex(key).take(16))
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      val tmp = Paths.get(s"$dir.tmp-${ProcessHandle.current.pid}")
      TranscriptGen.transcripts(spark, cfg).write.mode("overwrite").parquet(tmp.toString)
      Files.write(tmp.resolve("_KEY"), key.getBytes("UTF-8"))
      try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileAlreadyExistsException |
                   _: java.nio.file.DirectoryNotEmptyException => Util.deleteTree(tmp) }
    }
    dir.toString
  }

  /** The near-duplicate corpus: one document per generated conversation
    * (its turn texts in turn order), plus a planted near-copy of every
    * document the seed selects (about one in ten). A copy replaces a few
    * tokens with words no conversation uses; edits are dropped until the
    * copy's word-3-shingle Jaccard with its source is at least
    * `minJaccard`. Returns (originals, copies, planted (source, copy) id
    * pairs). */
  def nearDupDocs(cfg: TranscriptGen.GenConfig, nDocs: Int, minJaccard: Double)
      : (Seq[(Long, String)], Seq[(Long, String)], Seq[(Long, Long)]) = {
    val originals = (0 until nDocs).map { i =>
      (i.toLong, TranscriptGen.genConv(cfg, i.toLong)._1.map(_.text).mkString(" "))
    }
    val copies = originals.filter { case (i, _) => pick(mix(cfg.seed, 0x51L, i), 10) == 0 }
      .zipWithIndex.map { case ((src, text), j) =>
        val toks = text.split(" ")
        val srcSh = Dedup.shingles(text, 3).toSet
        def edited(m: Int): String = {
          val out = toks.clone()
          (0 until m).foreach { e =>
            val h = mix(cfg.seed, 0x52L, src, e.toLong)
            out(pick(h, out.length)) = "w" + pick(splitmix64(h), 100000)
          }
          out.mkString(" ")
        }
        def jaccard(t: String): Double = {
          val sh = Dedup.shingles(t, 3).toSet
          (srcSh & sh).size.toDouble / (srcSh | sh).size
        }
        var m = 2 + pick(mix(cfg.seed, 0x53L, src), 9)
        while (m > 1 && jaccard(edited(m)) < minJaccard) m -= 1
        ((nDocs + j).toLong, edited(m), src)
      }
    (originals, copies.map(c => (c._1, c._2)), copies.map(c => (c._3, c._1)))
  }

  /** (rows, order-free content hash) of the given columns. */
  def fingerprint(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(cols.map(col): _*).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Runs `df` to completion into Spark's `noop` sink. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Util {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.delete(q))
      finally s.close()
    }
}

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
