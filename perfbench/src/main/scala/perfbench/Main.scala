package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.geo.GeoFunctions
import graft.ops.Pin.PinSyntax
import graft.pipelines.CivicPipeline
import graft.queries._
import graft.streaming.EventPipeline

/** One benchmark run inside one JVM: set up a session, run the workload
  * named in the plan as a closed loop with one client, and write a raw
  * run record (timings, outputs, and in traced passes the Spark trace).
  * `run.py` turns the record into metrics and checks the outputs.
  *
  *   Main --plan plan.json --out record.json --seconds S --trace 0|1
  *        --cores N --launch-ms T --work DIR
  */
object Main {

  private val families: Map[String, String] = Seq(
    "Core" -> CoreQueries.queries, "Event" -> EventQueries.queries,
    "Text" -> TextQueries.queries, "Dedup" -> DedupQueries.queries,
    "Vector" -> VectorQueries.queries, "Geo" -> GeoQueries.queries,
    "Multimodal" -> MultimodalQueries.queries, "Sql" -> SqlQueries.queries,
    "Corpus" -> CorpusQueries.queries, "Graph" -> GraphQueries.queries,
    "Retrieval" -> RetrievalQueries.queries)
    .flatMap { case (fam, qs) => qs.keys.map(_ -> fam) }.toMap

  final case class Args(plan: JsonNode, out: Path, seconds: Double, trace: Boolean,
      cores: Int, launchMs: Long, work: Path)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(new ObjectMapper().readTree(Paths.get(kv("plan")).toFile),
      Paths.get(kv("out")), kv("seconds").toDouble, kv("trace") == "1",
      kv("cores").toInt, kv("launch-ms").toLong, Paths.get(kv("work")))
    Recorder.watchHeap()
    val spark = session(a)
    // set-up: from the JVM's launch to a ready session
    val setup = (System.currentTimeMillis() - a.launchMs) / 1e3
    val workload = a.plan.get("workload").asText
    val body =
      if (workload == "civic_refresh") new Civic(spark, a).run()
      else new Queries(spark, a).run()
    val record = body ++ Map("workload" -> workload, "setup_s" -> setup,
      "cores" -> a.cores, "heap_peak_bytes" -> Recorder.heapPeak)
    Files.writeString(a.out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(record))
    spark.stop()
  }

  /** The session `graft.Bench` builds, plus local dirs inside the run's
    * work directory; ready means the untimed warm-up query has run. */
  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warmUp(spark)
    spark
  }

  /** The untimed warm-up query: generated rows through an aggregate. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(1000000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

  def strings(n: JsonNode): List[String] = n.elements.asScala.map(_.asText).toList

  /** `df` with its row count and order-independent content digest (xor of
    * xxhash64 over the name-sorted columns, the fingerprint `CivicE2e`
    * uses) observed on the way to the sink. */
  def digestObserved(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.columns
    val renamed = df.toDF(cols.indices.map(i => s"c$i"): _*)
    val order = cols.indices.sortBy(i => (cols(i), i)).map(i => col(s"c$i"))
    renamed.observe(obs, count(lit(1)).as("rows"),
      coalesce(bit_xor(xxhash64(struct(order: _*))), lit(0L)).as("hash"))
  }

  def error(t: Throwable): String = {
    System.err.println(s"perfbench: operation failed: $t")
    s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("").take(300)}"
  }

  /** Shared closed-loop machinery: timed units (query passes, or civic
    * change batches after the build) run until the time is up. A traced
    * run installs the trace for every unit. */
  abstract class Loop(val spark: SparkSession, val a: Args) {
    val sc = spark.sparkContext
    val spans = new Spans
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val units = mutable.ArrayBuffer[Map[String, Any]]()

    def maxUnits: Int
    def unitKind(i: Int): String
    def unit(i: Int): Unit
    def prepare(): Unit
    def extra(): Map[String, Any]
    def minUnits: Int = 1

    def op[T](kind: String, name: String, family: String, unitIx: Int)(body: => T): Option[T] = {
      sc.setLocalProperty(Recorder.OpProperty, s"$unitIx:$kind:$name")
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val (res, err) =
        try (Some(spans(name, kind)(body)), null)
        catch { case t: Throwable => (None, error(t)) }
      ops += Map("kind" -> kind, "name" -> name, "family" -> family, "unit" -> unitIx,
        "t0" -> t0, "t1" -> System.currentTimeMillis(),
        "dur_ms" -> (System.nanoTime() - n0) / 1e6, "ok" -> (err == null), "error" -> err)
      sc.setLocalProperty(Recorder.OpProperty, null)
      res
    }

    def run(): Map[String, Any] = {
      prepare()
      var start = System.nanoTime()
      var i = 0
      while (i < maxUnits &&
          (i < minUnits || (System.nanoTime() - start) / 1e9 < a.seconds)) {
        val recorder = if (a.trace) new Recorder else null
        if (recorder != null) {
          sc.addSparkListener(recorder)
          spark.listenerManager.register(recorder)
        }
        val t0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val c0 = Recorder.processCpuNs
        unit(i)
        val wallMs = (System.nanoTime() - n0) / 1e6
        val cpuNs = Recorder.processCpuNs - c0
        val u = mutable.Map[String, Any]("index" -> i, "kind" -> unitKind(i),
          "traced" -> (recorder != null), "t0" -> t0,
          "t1" -> System.currentTimeMillis(), "wall_ms" -> wallMs, "cpu_ns" -> cpuNs)
        if (recorder != null) {
          org.apache.spark.perfbenchbridge.Bus.drain(sc)
          sc.removeSparkListener(recorder)
          spark.listenerManager.unregister(recorder)
          u("trace") = recorder.record
        }
        units += u.toMap
        // the clock measures steady-state units; a build is timed on its own
        if (unitKind(i) == "build") start = System.nanoTime()
        i += 1
      }
      Map("ops" -> ops.toList, "units" -> units.toList, "spans" -> spans.done.toList) ++
        extra()
    }
  }

  /** heavy_kernels: graded queries by name. Each timed execution also
    * observes its own output's row count and digest, so every result is
    * checked without a second execution. */
  final class Queries(spark: SparkSession, a: Args) extends Loop(spark, a) {
    private val data = a.plan.get("data").asText
    private val passes = a.plan.get("passes").elements.asScala.map(strings).toIndexedSeq
    private val digests = mutable.ArrayBuffer[Map[String, Any]]()

    def maxUnits: Int = passes.size
    def unitKind(i: Int): String = "pass"

    /** Untimed: the same queries over a tenth of the data, so the JVM's
      * and the code generator's warm-up is not charged to whichever query
      * the seed puts first. */
    def prepare(): Unit = passes(0).foreach { q =>
      SparkEntry.queries(q)(spark, a.plan.get("warm_up_data").asText)
        .write.format("noop").mode("overwrite").save()
    }

    def unit(i: Int): Unit = passes(i).foreach { q =>
      val obs = new Observation(s"digest-$i-$q")
      val ran = op("query", q, families.getOrElse(q, "unknown"), i) {
        val df = spans("queries.build", "queries")(SparkEntry.queries(q)(spark, data))
        spans("queries.run", "queries")(
          digestObserved(df, obs).write.format("noop").mode("overwrite").save())
      }
      if (ran.isDefined) {
        val m = obs.get
        digests += Map("unit" -> i, "query" -> q,
          "rows" -> m("rows").asInstanceOf[Long], "hash" -> m("hash").asInstanceOf[Long])
      }
    }

    def extra(): Map[String, Any] = Map("digests" -> digests.toList)
  }

  /** civic_refresh: unit 0 builds the five-table warehouse from raw
    * files; every later unit applies one change batch and then runs that
    * batch's lookups against the warehouse parquet. */
  final class Civic(spark: SparkSession, a: Args) extends Loop(spark, a) {
    import spark.implicits._
    private val corpus = a.plan.get("corpus").asText
    private val batches = a.plan.get("batches").elements.asScala.toIndexedSeq
    private val asOf = Timestamp.valueOf(a.plan.get("as_of").asText)
    private val wh = a.work.resolve("warehouse").toString
    private val lookups = mutable.ArrayBuffer[Map[String, Any]]()
    private lazy val states = spark.read.json(s"$corpus/areas.jsonl")
      .filter(col("classification") === "state").cache()
    private lazy val stateFips = states.select(col("fips"), col("abbreviation"), col("name"))
    private lazy val stateNames = states.select(col("name").as("state_name"), col("abbreviation"))

    def maxUnits: Int = 1 + batches.size
    def unitKind(i: Int): String = if (i == 0) "build" else "batch"
    override def minUnits: Int = 2

    def prepare(): Unit = states.count()

    private def areasFrom(root: String): DataFrame = {
      val cds = CivicPipeline.areasFromShapefile(spark, s"$root/shp/districts.shp", stateFips)
      val geo = spark.read.json(s"$root/areas.jsonl").select(col("id"), col("name"),
        col("classification"), lit(0L).as("land_area"),
        GeoFunctions.stGeomFromGeoJson(col("geojson")).as("geometry"))
      cds.unionByName(geo)
    }

    private def matchPeople(people: DataFrame): DataFrame =
      people.select(col("id"), col("name"), col("given_name").as("first_name"),
        col("family_name").as("last_name"), col("constituent_area_id"), col("chamber"))

    private def ingest(table: String, df: DataFrame, keys: Seq[String]): Unit =
      spans("warehouse.ingest", "warehouse")(CivicPipeline.ingest(spark, s"$wh/$table", df, keys))

    /** From raw files to a complete warehouse. Votes and edges are pinned
      * inside their layer's span, so entity resolution and the spatial
      * join are timed apart from the warehouse write. */
    def build(): Unit = {
      val areas = spans("sources.areas", "sources")(areasFrom(corpus).pinned)
      val people = spans("sources.people", "sources")(
        CivicPipeline.peopleFromYaml(spark, s"$corpus/people/*.yml", asOf, stateNames).pinned)
      val bills = spans("sources.bills", "sources")(
        CivicPipeline.billsFromJsonDocs(spark, s"$corpus/docs", "ocd-division/country:us").pinned)
      ingest("areas", areas, Seq("id"))
      ingest("people", people, Seq("id"))
      ingest("bills", bills, Seq("id"))
      val events = spans("er.votes", "er")(CivicPipeline.voteEventsFromJsonDocs(
        spark, s"$corpus/docs", bills, matchPeople(people))._1.pinned)
      ingest("vote_events", events, Seq("id"))
      val edges = spans("geo.edges", "geo")(
        CivicPipeline.personZipEdges(people, areas, 4.0).pinned)
      ingest("person_area_edges", edges, Seq("person_id", "area_id"))
    }

    /** One change batch: new bills, moved members (their ZIP edges are
      * replaced through the streaming merge sink), new roll calls. */
    def refresh(dir: String, batchId: Long): Unit = {
      val bills = spans("sources.bills", "sources")(
        CivicPipeline.billsFromJsonDocs(spark, s"$dir/docs", "ocd-division/country:us"))
      ingest("bills", bills, Seq("id"))
      val moved = spans("sources.people", "sources")(
        CivicPipeline.peopleFromYaml(spark, s"$dir/people/*.yml", asOf, stateNames).pinned)
      ingest("people", moved, Seq("id"))
      val edges = spans("geo.edges", "geo")(CivicPipeline.personZipEdges(
        moved, spark.read.parquet(s"$wh/areas"), 4.0).pinned)
      spans("streaming.merge", "streaming")(
        EventPipeline.mergeBatchSink(s"$wh/person_area_edges", Seq("person_id"))(edges, batchId))
      val events = spans("er.votes", "er")(CivicPipeline.voteEventsFromJsonDocs(
        spark, s"$dir/docs", spark.read.parquet(s"$wh/bills"),
        matchPeople(spark.read.parquet(s"$wh/people")))._1.pinned)
      ingest("vote_events", events, Seq("id"))
    }

    def lookup(kind: String, key: String): List[Any] =
      if (kind == "zip")
        spark.read.parquet(s"$wh/person_area_edges").filter(col("area_id") === key)
          .select("person_id").distinct().as[String].collect().sorted.toList
      else
        spark.read.parquet(s"$wh/vote_events")
          .select(col("identifier"), explode(col("votes")).as("v"))
          .filter(col("v.voter_id") === key)
          .select(col("identifier"), col("v.option")).as[(String, String)]
          .collect().sorted.map { case (i, o) => List(i, o) }.toList

    def unit(i: Int): Unit =
      if (i == 0) op("build", "build", "civic", i)(build())
      else {
        val b = batches(i - 1)
        op("refresh", s"b${i - 1}", "civic", i)(
          refresh(s"$corpus/${b.get("dir").asText}", i - 1L))
        b.get("lookups").elements.asScala.foreach { l =>
          val kind = l.get("kind").asText
          val key = l.get("key").asText
          val res = op("lookup", kind, "civic", i)(lookup(kind, key))
          lookups += Map("unit" -> i, "batch" -> (i - 1), "kind" -> kind, "key" -> key,
            "result" -> res.orNull)
        }
      }

    private def files(p: Path): List[Path] =
      if (!Files.exists(p)) Nil
      else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toList

    /** Untimed, after the last unit: the warehouse's key listing per
      * table, the resolved voter of every vote, and its size on disk. */
    def extra(): Map[String, Any] = {
      def keys(t: String, cols: String*): List[String] =
        spark.read.parquet(s"$wh/$t").select(concat_ws("|", cols.map(col): _*))
          .as[String].collect().toList
      val listing =
        try Map(
          "areas" -> keys("areas", "id"),
          "people" -> keys("people", "id", "constituent_area_id"),
          "bills" -> keys("bills", "identifier"),
          "vote_events" -> keys("vote_events", "identifier"),
          "person_area_edges" -> keys("person_area_edges", "person_id", "area_id"))
        catch { case t: Throwable => Map("error" -> error(t)) }
      val voters =
        try Right(spark.read.parquet(s"$wh/vote_events")
          .select(col("identifier"), posexplode(col("votes")).as(Seq("pos", "v")))
          .select(concat(col("identifier"), lit("#"), col("pos")), col("v.voter_id"))
          .as[(String, String)].collect().toList.map { case (k, v) => List(k, v) })
        catch { case t: Throwable => Left(error(t)) }
      val all = files(Paths.get(wh))
      Map("lookups" -> lookups.toList, "keys" -> listing,
        "voters" -> voters.getOrElse(Nil), "voters_error" -> voters.left.toOption.orNull,
        "batches_applied" -> (units.size - 1),
        "storage" -> Map("bytes" -> all.map(Files.size).sum,
          "files" -> all.count(f => f.toString.endsWith(".parquet") &&
            !f.toString.contains(".old/"))))
    }
  }
}
