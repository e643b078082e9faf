package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CassandraParams, ClusterInfo, Materialize, StaticClusterInfo}
import graft.operators.CqlPipeline
import graft.operators.CqlPipeline.Projection
import graft.sinks.{BulkSink, LoaderPlan, StreamLoader}
import graft.sources.AvroSource

/**
 * CLI with the reference's flag + target-URI grammar
 * (Hdfs2Cass.java:67-94, README.md:54-96):
 *
 *   Hdfs2CassSpark --input PATH [--input PATH ...]
 *                  --output cql://host:port/keyspace/table?reducers=N&...
 *                  [--rowkey FIELD] [--timestamp FIELD] [--ttl FIELD]
 *                  [--ignore FIELD ...]
 *                  [--format avro|parquet|legacy|legacy-avro] [--sink-dir LOCALDIR]
 *                  [--stream-endpoints host=addr:port,host=addr:port,...]
 *
 * Offline, the sink writes sorted SSTable-style runs under --sink-dir
 * (directory mode), which must be empty or absent; a live
 * SSTableLoader-equivalent would hang off the same manifests.
 * `--format parquet` is the Spark-native extension (the
 * reference is Avro-only). With `--stream-endpoints` the loader actually
 * executes the emitted plan against those wire addresses (the offline peer
 * is `InProcessCluster`), honoring the target URI's
 * `streamthrottlembits=` cap — the reference's post-write
 * `loader.stream(...)` boundary (CrunchBulkRecordWriter.java:163-178).
 */
object Hdfs2CassSpark {

  final case class Args(
      inputs: Seq[String] = Nil,
      output: String = "",
      rowkey: Option[String] = None,
      timestamp: Option[String] = None,
      ttl: Option[String] = None,
      ignore: Seq[String] = Nil,
      format: String = "parquet",
      sinkDir: String = "",
      clusterInfoJson: Option[String] = None,
      streamEndpoints: Option[String] = None)

  def parseArgs(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--input" :: v :: t     => loop(t, acc.copy(inputs = acc.inputs :+ v))
      case "--output" :: v :: t    => loop(t, acc.copy(output = v))
      case "--rowkey" :: v :: t    => loop(t, acc.copy(rowkey = Some(v)))
      case "--timestamp" :: v :: t => loop(t, acc.copy(timestamp = Some(v)))
      case "--ttl" :: v :: t       => loop(t, acc.copy(ttl = Some(v)))
      case "--ignore" :: v :: t    => loop(t, acc.copy(ignore = acc.ignore :+ v))
      case "--format" :: v :: t    => loop(t, acc.copy(format = v))
      case "--sink-dir" :: v :: t  => loop(t, acc.copy(sinkDir = v))
      case "--cluster-info" :: v :: t => loop(t, acc.copy(clusterInfoJson = Some(v)))
      case "--stream-endpoints" :: v :: t => loop(t, acc.copy(streamEndpoints = Some(v)))
      case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val a = loop(argv.toList, Args())
    require(a.inputs.nonEmpty, "--input is required")
    require(a.output.nonEmpty, "--output is required")
    require(a.sinkDir.nonEmpty, "--sink-dir is required in offline directory mode")
    a
  }

  def run(spark: SparkSession, args: Args,
      clusterInfo: ClusterInfo = StaticClusterInfo()): Seq[BulkSink.PartitionManifest] = {
    // --cluster-info is either a JSON ring file or socket://host:port for
    // a live plan-time metadata fetch (the reference fetches from the
    // output URI's seed node the same way, CassandraClusterInfo.java:61-109)
    val info = args.clusterInfoJson.map {
      case s if s.startsWith("socket://") =>
        val hp = s.stripPrefix("socket://").split(":", 2)
        require(hp.length == 2, s"--cluster-info socket form must be socket://host:port, got $s")
        StaticClusterInfo.fetch(hp(0), hp(1).toInt)
      case path => StaticClusterInfo.fromJsonFile(path)
    }.getOrElse {
      // no --cluster-info: an rpcport= URI param means "fetch metadata from
      // the seed node in the output URI" — the reference's plan-time flow
      // (CassandraClusterInfo.java:61-109 connects to the seed's rpc port,
      // which is distinct from the URI's own port)
      val u = new java.net.URI(args.output)
      CassandraParams.parseQuery(Option(u.getQuery).getOrElse("")).get("rpcport")
        .map(p => StaticClusterInfo.fetch(u.getHost, p.toInt))
        .getOrElse(clusterInfo)
    }
    val params = CassandraParams.parse(args.output, info)
    val input: DataFrame = args.format match {
      case "avro"    => AvroSource.read(spark, args.inputs)
      case "parquet" => spark.read.parquet(args.inputs: _*)
      // the reference's second CLI (LegacyHdfs2Cass.java:61-109): TSV lines
      // already carrying (rowkey, colname, value, ts, ttl); `legacy-avro`
      // is its actual wire encoding (avro containers of `bytes` lines)
      case "legacy"      => graft.sources.LegacySource.read(spark, args.inputs)
      case "legacy-avro" => graft.sources.LegacySource.readAvroBytes(spark, args.inputs)
      case other     => throw new IllegalArgumentException(s"unknown format: $other")
    }
    val proj = Projection(
      rowkey = args.rowkey,
      timestampField = args.timestamp,
      ttlField = args.ttl,
      ignore = args.ignore,
      defaultTimestampMicros = System.currentTimeMillis() * 1000L)
    // the target scheme selects the record shape, the reference's dispatch
    // (Hdfs2Cass.java:110-127): cql:// wide rows, thrift:// cell-per-row.
    // An unknown scheme fails loudly — the reference silently writes
    // NOTHING for one (no branch matches), which is a trap, not a contract.
    val projected = if (args.format.startsWith("legacy")) {
      // legacy lines already carry (rowkey, colname, value, writetime, ttl);
      // the reference's LegacyHdfs2Cass has no projection flags either
      require(args.rowkey.isEmpty && args.timestamp.isEmpty &&
        args.ttl.isEmpty && args.ignore.isEmpty,
        "--rowkey/--timestamp/--ttl/--ignore do not apply to legacy input " +
          "(the line format carries those fields)")
      input
    } else params.scheme.toLowerCase match {
      case "cql" =>
        val base = CqlPipeline.toCql(input, proj)
        // columnnames= URI param reorders the value list to match the target
        // table's prepared statement (CassandraParams.java:88-94, README.md:89)
        params.columnNames match {
          case Some(names) =>
            val missing = names.filterNot(base.columns.contains)
            require(missing.isEmpty, s"columnnames not in input: ${missing.mkString(",")}")
            base.select((("rowkey" +: names) :+ "writetime" :+ "ttl")
              .distinct.map(org.apache.spark.sql.functions.col): _*)
          case None => base
        }
      case "thrift" => CqlPipeline.toCells(input, proj)
      case other => throw new IllegalArgumentException(
        s"unknown target scheme '$other' (use cql:// or thrift://)")
    }
    {
      // distributerandomly changes only the row->partition routing: the
      // reference keeps the within-reducer decorated-key sort either way
      // (CassandraPartitioner.java:58-60 + CassandraParams.java:291-293),
      // so both modes emit the same sorted-run format — random runs just
      // span the full token range and stream to all replicas.
      // saltbuckets=auto adds a sample pass over the projected input
      // (sampling still READS every row), so the frame materializes once
      // and both the salt plan and the write consume the checkpoint — not
      // two full scans + CQL serializations of a multi-TB load. The blocks
      // go as soon as the write returns: streaming reads the run files. A
      // sink dir that holds a load is refused before either runs.
      BulkSink.requireEmptySink(args.sinkDir)
      val toWrite =
        if (params.saltAuto) Materialize.truncate(projected) else projected
      val manifests = try {
        BulkSink.writeSorted(toWrite, Seq("rowkey"), params.reducers, args.sinkDir,
          partitionerClass = info.partitionerClass,
          compression = params.compressionClass,
          distributeRandomly = params.distributeRandomly,
          salts =
            if (params.saltAuto) BulkSink.planSalts(toWrite, Seq("rowkey"), params.reducers)
            else Map.empty)
      } finally if (params.saltAuto) Materialize.release(toWrite)
      // with ring metadata present, also emit the stream plan the loader
      // would execute (file -> replica endpoints). Compressed runs plan
      // and stream like any other since chunked compression landed: the
      // session ships the chunk map and the receiver verifies the
      // reconstructed logical stream.
      val planOpt = info match {
        // "has a ring" means actual vnode tokens — RandomPartitioner
        // metadata legitimately lists nodes with empty token lists (md5
        // tokens don't fit the Long ring format), and there is no Long
        // token ring to plan streams against
        case s: StaticClusterInfo if s.ring.exists(_._2.nonEmpty) =>
          val nodes = s.ring.map { case (h, ts) => LoaderPlan.RingNode(h, ts) }
          // rf precedence: replication= URI override, else the rf the
          // cluster metadata reports (ring JSON field / socket payload /
          // driver keyspace read) — the reference streams to each range's
          // ACTUAL replica set (ExternalSSTableLoaderClient.java:57-137),
          // so a constant here under-replicates every rf!=constant cluster
          val declaredRf = params.replication.orElse(s.replicationFactor)
            .getOrElse {
              Console.err.println("[graft] ring metadata carries no rf and " +
                "no replication= URI param given; defaulting to rf=2 — " +
                "stream plans may be under-replicated for rf>2 keyspaces")
              2
            }
          val rf = declaredRf.min(nodes.length)
          if (rf < declaredRf)
            Console.err.println(s"[graft] rf=$declaredRf exceeds " +
              s"${nodes.length} ring nodes; planning streams at rf=$rf")
          val plan = LoaderPlan.planStreams(manifests, nodes, rf = rf)
          LoaderPlan.writePlanJson(args.sinkDir, plan)
          Some(plan)
        case s: StaticClusterInfo if s.ring.nonEmpty =>
          // metadata was supplied but carries no Long token ring
          // (RandomPartitioner md5 tokens don't fit the ring format) —
          // say so out loud; a silent skip reads as "ready to stream"
          Console.err.println("[graft] cluster metadata has no Long token " +
            "ring (RandomPartitioner); skipping _STREAM_PLAN.json emission — " +
            "md5-range stream planning needs the cluster's own loader")
          None
        case _ => None
      }
      // execute the plan when wire addresses are given — the reference's
      // post-write loader.stream(...) with the URI's stream rate cap
      args.streamEndpoints.foreach { spec =>
        val plan = planOpt.getOrElse(throw new IllegalArgumentException(
          "--stream-endpoints needs ring metadata (--cluster-info) to plan replicas"))
        val endpoints = spec.split(",").iterator.filter(_.nonEmpty).map { e =>
          val eq = e.indexOf('=')
          require(eq > 0, s"--stream-endpoints entry must be host=addr:port, got $e")
          val ap = e.substring(eq + 1).split(":", 2)
          require(ap.length == 2, s"--stream-endpoints entry must be host=addr:port, got $e")
          e.substring(0, eq) -> (ap(0) -> ap(1).toInt)
        }.toMap
        val summary = StreamLoader.stream(args.sinkDir, plan, endpoints, manifests,
          throttleMBits = params.streamThrottleMBits)
        summary.failed.foreach(f => System.err.println(
          s"WARN: stream session failed: ${f.dataFile} -> ${f.host}: ${f.message}"))
        println(s"streamed ${summary.sessions.count(_.ok)}/${summary.sessions.length} " +
          s"sessions${params.streamThrottleMBits.fold("")(m => s" (throttle ${m} Mbit/s)")}")
      }
      manifests
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq)
    val builder = graft.Sessions.engine().appName("Hdfs2CassSpark")
    // under spark-submit the master comes from the launcher; standalone
    // invocations (tests, local runs) fall back to all local cores
    val spark = sys.props.get("spark.master")
      .orElse(sys.env.get("SPARK_MASTER"))
      .map(_ => builder).getOrElse(builder.master("local[*]"))
      .getOrCreate()
    try {
      val manifests = run(spark, args)
      println(s"bulk load complete: ${manifests.map(_.rows).sum} rows in " +
        s"${manifests.length} token-range partitions under ${args.sinkDir}")
    } finally spark.stop()
  }
}
