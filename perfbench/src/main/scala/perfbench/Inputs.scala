package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded workload inputs. The same seed always yields the same rows;
  * the engine only ever sees the generated frames.
  *
  * The text and vector corpora copy the measured shape of the engine's
  * sf0.1 `documents` and `embeddings` tables, so the benchmark needs
  * nothing outside its checkout (the figures are in perfbench/README.md):
  *   - documents: 10–100 words drawn uniformly from a 30-word
  *     vocabulary; 5 % are an earlier doc's text plus the word "dup",
  *     0.16 % repeat an earlier doc verbatim; `lang` en 41 %, zh, es,
  *     fr 15 % each, de 14 %; `source` is `src<id mod 20>`.
  *   - embeddings: 64-d float unit vectors with i.i.d. Gaussian
  *     components, so no cluster structure; labels 0–9 independent
  *     of the vector. */
object Inputs {

  /** sf0.1's vocabulary: every word it uses except the "dup" marker. */
  val Vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  /** Languages, each repeated by its share in percent. */
  val Langs: IndexedSeq[String] =
    Seq("en" -> 41, "zh" -> 15, "es" -> 15, "fr" -> 15, "de" -> 14)
      .flatMap { case (lang, pct) => Seq.fill(pct)(lang) }.toIndexedSeq
  /** Near and exact duplicates per 10,000 docs. */
  val NearDupPer10k = 500
  val ExactDupPer10k = 16

  val DocSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
  val VecSchema: StructType = StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  final case class Doc(id: Long, text: String, lang: String, source: String)

  def docs(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new Random(seed * 7919L + 1)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = rnd.nextInt(10000)
      texts(i) =
        if (i > 0 && r < NearDupPer10k) texts(rnd.nextInt(i)) + " dup"
        else if (i > 0 && r < NearDupPer10k + ExactDupPer10k) texts(rnd.nextInt(i))
        else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      Doc(i.toLong, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${i % 20}")
    }
  }

  final case class Vec(id: Long, v: Array[Float], label: Int)

  /** `n` unit vectors of dimension `dim`, uniform on the sphere. */
  def vectors(seed: Long, n: Int, dim: Int = 64, firstId: Long = 0L): IndexedSeq[Vec] = {
    val rnd = new Random(seed * 104729L + 3)
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      Vec(firstId + i, unit(Array.fill(dim)(rnd.nextGaussian())), label)
    }
  }

  def unit(v: Array[Double]): Array[Float] = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def docFrame(s: SparkSession, ds: Seq[Doc]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(ds.map(d =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)): _*), DocSchema)

  def vecFrame(s: SparkSession, vs: Seq[Vec]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(vs.map(v =>
      Row(v.id, v.v.toSeq, v.label)): _*), VecSchema)

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"$b%02x").mkString

  /** Fingerprints of everything the workloads feed the engine: the stub
    * node's rules, the stand-in decompiler's script, and this input
    * generator. Any edit to them changes what is measured, so runs with
    * different fingerprints are never compared. */
  def fingerprints(checkout: Path, decompilerScript: Path): Map[String, String] = {
    def file(rel: String) = sha256(Files.readAllBytes(checkout.resolve(rel)))
    Map(
      "rpc_stub" -> file("src/main/scala/graft/sources/RpcStub.scala"),
      "decompiler_script" -> sha256(Files.readAllBytes(decompilerScript)),
      "input_generator" -> file("perfbench/src/main/scala/perfbench/Inputs.scala"))
  }
}
