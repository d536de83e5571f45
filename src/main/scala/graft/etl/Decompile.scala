package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.util.concurrent.TimeUnit

/** The external-decompiler stage (SURVEY.md §2.9 U1, §2.5 A4; reference
  * utils/decompile.rs:14-65 + the skeleton cache extract.rs:184-245).
  *
  * Out-of-Catalyst by design: spawning a process per row is
  * nondeterministic and side-effecting, so it lives in `mapPartitions`
  * behind an explicit `dropDuplicates(skeleton_hash)` — each DISTINCT
  * skeleton is decompiled exactly once (the batch collapse of the
  * reference's DashMap retry cache), and the result joins back to
  * deployments on skeleton_hash.
  *
  * The decompiler binary is configurable (heimdall is absent here; specs
  * use a stand-in script). Timeout kills the process like the
  * reference's 5000 ms default (main.rs:93-95).
  */
object Decompile {

  final case class DecompiledRow(
      skeleton_hash: String, abi_json: String, failed_decompilation: Boolean)

  /** Run `cmd bytecodeHex` per DISTINCT skeleton with a hard timeout;
    * stdout is expected to be heimdall-shaped ABI JSON. */
  def run(skeletons: DataFrame, cmd: Seq[String],
      timeoutMs: Long = 5000L): Dataset[DecompiledRow] = {
    val spark = skeletons.sparkSession
    import spark.implicits._
    skeletons
      .select(col("skeleton_hash"), col("bytecode"))
      .dropDuplicates("skeleton_hash") // A4: dedup BEFORE the expensive op
      .as[(String, String)]
      .mapPartitions { rows =>
        rows.map { case (hash, bytecode) =>
          // stdout goes to a temp file: reading the pipe before waitFor
          // would block past the timeout, and a full pipe could deadlock
          // the child — file redirection avoids both.
          val outFile = java.io.File.createTempFile("graft-decompile", ".json")
          try {
            val pb = new ProcessBuilder((cmd :+ bytecode): _*)
            pb.redirectOutput(outFile)
            val p = pb.start()
            val done = p.waitFor(timeoutMs, TimeUnit.MILLISECONDS)
            if (!done) { p.destroyForcibly(); DecompiledRow(hash, null, true) }
            else if (p.exitValue() != 0) DecompiledRow(hash, null, true)
            else DecompiledRow(hash,
              java.nio.file.Files.readString(outFile.toPath), false)
          } catch {
            case _: java.io.IOException => DecompiledRow(hash, null, true)
          } finally outFile.delete()
        }
      }
  }

  /** F15: heimdall abi.json → exploded typed ABI rows (abi.rs:67-70:
    * a JSON array of {type, name, inputs[{name,internalType}], outputs,
    * stateMutability}). Pure `from_json` + explode — no UDF. */
  private val abiJsonSchema = ArrayType(StructType(Seq(
    StructField("type", StringType),
    StructField("name", StringType),
    StructField("inputs", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("internalType", StringType))))),
    StructField("outputs", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("internalType", StringType))))),
    StructField("stateMutability", StringType))))

  def parseAbi(decompiled: DataFrame): DataFrame =
    decompiled
      .filter(!col("failed_decompilation") && col("abi_json").isNotNull)
      .select(col("skeleton_hash"),
        explode(from_json(col("abi_json"), abiJsonSchema)).as("e"))
      .filter(col("e.type").isin("function", "event", "error"))
      // a malformed ABI entry without a name cannot produce a signature
      // (keccak(null) = null key) — drop it here, not downstream where a
      // null natural key would degrade the sink's idempotency contract
      .filter(col("e.name").isNotNull)
      .select(
        col("skeleton_hash"),
        col("e.type").as("kind"),
        col("e.name").as("name"),
        coalesce(col("e.inputs"), array().cast("array<struct<name:string,internalType:string>>")).as("inputs"),
        coalesce(col("e.outputs"), array().cast("array<struct<name:string,internalType:string>>")).as("outputs"),
        col("e.stateMutability").as("state_mutability"))

  /** F5/F6 + K3: the global Function/Event/Error entity tables from
    * parsed ABI rows (function.rs:18-63, event.rs:15-58, error.rs:15-58):
    * signature = keccak-256 of the canonical `name(types)` string, with
    * the unresolved-name short-circuits — `Event_<64hex>`/`Error_<64hex>`
    * names embed their own hash, `Unresolved_xxxxxxxx` functions carry
    * their selector — then the signature-dedup gate (writer.rs:56-58).
    * All codegen'd: the keccak is the native [[graft.functions.Keccak]]
    * expression over the UTF-8 canonical string, so the signature build
    * stays inside whole-stage codegen (no UDF in a per-ABI-row path). */
  def signatureEntities(abi: DataFrame): Map[String, DataFrame] = {
    val inTypes =
      array_join(transform(col("inputs"), f => f.getField("internalType")), ",")
    val outTypes =
      array_join(transform(col("outputs"), f => f.getField("internalType")), ",")
    val canonical = concat(col("name"), lit("("), inTypes, lit(")"))
    val keccakSig = graft.functions.Formats.hexLower(
      graft.functions.Keccak.keccak256(canonical.cast("binary")))
    // the reference's embedded-hash rule is PER KIND: event.rs
    // (get_signature_hash) accepts only the Event_ prefix, error.rs
    // only Error_ — an error named Event_<64hex> keccaks like any
    // other name there, so it must here too. The last '_'-separated
    // segment carries the hash when it is 64 chars (Event_Foo_<64hex>
    // embeds too, not just the bare form); requiring those 64 chars to
    // be HEX is a deliberate tightening of the reference's
    // panic-on-non-hex path.
    val lastSeg = substring_index(col("name"), "_", -1)
    def signatureFor(prefix: String) = {
      val embedded =
        when(col("name").rlike(s"^${prefix}_") &&
          lastSeg.rlike("^[0-9a-fA-F]{64}$"), lastSeg).otherwise(lit(""))
      when(embedded =!= "",
        concat(lit("0x"), graft.functions.Formats.lowerHexDigits(embedded)))
        .otherwise(keccakSig)
    }
    val unresolved = regexp_extract(col("name"), "^Unresolved_([0-9a-fA-F]{8})$", 1)
    val bytes4 =
      when(unresolved =!= "", graft.functions.Formats.lowerHexDigits(unresolved))
        .otherwise(substring(keccakSig, 3, 8))
    def entity(kind: String, cols: Seq[org.apache.spark.sql.Column]): DataFrame =
      abi.filter(col("kind") === kind).select(cols: _*)
        .dropDuplicates("signature") // K3 gate
    Map(
      "functions" -> entity("function", Seq(keccakSig.as("signature"),
        bytes4.as("bytes4"), col("name"), inTypes.as("inputs"),
        outTypes.as("outputs"))),
      "events" -> entity("event", Seq(signatureFor("Event").as("signature"),
        col("name"), inTypes.as("inputs"))),
      "errors" -> entity("error", Seq(signatureFor("Error").as("signature"),
        col("name"), inTypes.as("inputs"))))
  }
}
