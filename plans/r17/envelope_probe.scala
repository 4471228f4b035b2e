// Envelope plan dump + noop-sink timing, as used for plans/r17/envelope_*.txt.
// Env: IN (etl_json_assign input dir from perfbench/gen.py), AVRO_IN (optional,
// etl_avro_stream input dir), SF_DIR (testdata scale-factor dir for s4_env_json),
// OUT (output file prefix). Run with the compiled classes of the commit to measure:
//   spark-shell --master 'local[4]' --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.sql.shuffle.partitions=4 -i envelope_probe.scala
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.{JsonToStructs, ScalaUDF}
import graft._, graft.config._, graft.sources._

GraftSession.configure(spark)
spark.sparkContext.setLogLevel("ERROR")
val in = sys.env("IN"); val out = sys.env("OUT")
def props(dir: String): Map[String, String] = {
  val p = new java.util.Properties(); val r = Files.newBufferedReader(Paths.get(dir, "env.properties"))
  try p.load(r) finally r.close(); p.asScala.toMap }
val cpu = new java.util.concurrent.atomic.AtomicLong()
spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpu.addAndGet(e.taskMetrics.executorCpuTime) })
def count(df: DataFrame) = (
  df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case e: JsonToStructs => e })).size,
  df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case e: ScalaUDF => e })).size)
def dump(name: String, df: DataFrame): Unit = {
  val (j, u) = count(df)
  val txt = s"== $name: JsonToStructs=$j ScalaUDF=$u in the optimized plan\n\n== Optimized Logical Plan ==\n" +
    df.queryExecution.optimizedPlan.toString + "\n== Physical Plan ==\n" + df.queryExecution.executedPlan.toString + "\n"
  Files.writeString(Paths.get(s"${out}_$name.txt"), txt)
  println(s"[probe] $name JsonToStructs=$j ScalaUDF=$u")
}
def time(name: String, df: DataFrame, n: Int): Unit = {
  val runs = (1 to n).map { _ =>
    val c0 = cpu.get(); val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    Thread.sleep(300) // let task-end events land
    ((System.nanoTime() - t0) / 1e9 - 0.3, (cpu.get() - c0) / 1e9) }
  println(f"[probe] $name min wall ${runs.map(_._1).min}%.3f s, min executor cpu ${runs.map(_._2).min}%.3f s over $n runs; all=${runs.map(r => f"${r._1}%.2f/${r._2}%.2f").mkString(" ")}")
}
val yaml = Files.readString(Paths.get(in, "config.yaml")).replace("@SINK@", "unused-sink")
val cfg = ConfigYaml.fromYaml(yaml)
val payload = StructType.fromDDL(props(in)("GRAFT_PAYLOAD_SCHEMA"))
val raw = MessageSource.fromEvents(spark, in, cfg.source.topic).localCheckpoint(true)
println(s"[probe] raw rows ${raw.count()}")
val env = new Pipeline(cfg, payload).envelope(raw)
dump("bench_envelope_json", env)
// the result hash, to show outputs are identical
val h = env.select(sum(xxhash64(col("kafka_message"), col("kafka_error"), to_json(col("payload")), col("kafka_hash")).cast("decimal(38,0)"))).head().get(0)
println(s"[probe] bench_envelope_json output hash $h schema ${env.schema.catalogString.hashCode}")
time("bench_envelope_json", env, 6)
sys.env.get("AVRO_IN").foreach { ain =>
  val ay = Files.readString(Paths.get(ain, "config.yaml")).replace("@SINK@", "unused-sink")
  val acfg = ConfigYaml.fromYaml(ay)
  val ap = StructType.fromDDL(props(ain)("GRAFT_PAYLOAD_SCHEMA"))
  val schemas = Files.list(Paths.get(ain, "schemas")).iterator().asScala.map(f =>
    f.getFileName.toString.stripSuffix(".avsc").toInt -> Files.readString(f)).toMap
  val araw = spark.read.schema(MessageSource.schema).parquet(Paths.get(ain, "topic").toString).localCheckpoint(true)
  val aenv = new Pipeline(acfg, ap, avroSchemasById = schemas).envelope(araw)
  dump("bench_envelope_avro_multi", aenv)
  val ah = aenv.select(sum(xxhash64(col("kafka_message"), col("kafka_error"), to_json(col("payload")), col("kafka_hash")).cast("decimal(38,0)"))).head().get(0)
  println(s"[probe] bench_envelope_avro_multi output hash $ah")
  time("bench_envelope_avro_multi", aenv, 6)
}
val gate = SparkEntry.queries("s4_env_json")(spark, sys.env("SF_DIR"))
dump("s4_env_json", gate)
System.exit(0)
