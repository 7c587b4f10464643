package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults this engine assumes.
  *
  * Tuned for the sandbox (single JVM, `local[N]`) but every knob is the one
  * you would set on a 1000-executor cluster: AQE on (runtime re-plan +
  * skew-join splitting), shuffle partitions sized to the parallelism level
  * rather than the 200 default, UTC session time zone for oracle parity.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder = {
    // Shuffle/spill scratch: default java.io.tmpdir sits on the sandbox's
    // shared virtio disk, whose ±30% writeback noise (BASELINE.md §4) every
    // shuffle file and spill inherits — the same reason the bench dir and
    // checkpoint dir already default to tmpfs. Override with
    // SPARK_GRAFT_LOCAL_DIR; on a real cluster point it at the fast local
    // disks (NOT tmpfs — executor memory is the scarce resource there).
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
      if (new java.io.File("/dev/shm").canWrite) "/dev/shm/graft-local"
      else System.getProperty("java.io.tmpdir"))
    SparkSession
      .builder()
      .master(master)
      .appName("featureboxspark")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // the default 64m advisory size under-splits CPU-bound stages whose
      // shuffle output is below 64m × cores; 8m splits finer while still
      // coalescing tiny-partition fan-outs at scale. It does not keep every
      // core busy on a small stage: with parallelismFirst (the default) the
      // target never drops below minPartitionSize (1m), so a stage writing
      // 2m of shuffle data runs as 2 tasks however many cores there are
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Unless this is on, Spark fills a cache with AQE partition
      // coalescing off: every cached frame keeps all `shufflePartitions`
      // partitions however small it is, and every pass over it pays a fixed
      // per-task cost for each (feature_search's 2,048-row matrix: 16 tasks
      // per aggregation instead of 1). The price: a cached frame's output
      // partitioning may differ from its plan's, so a later join over it
      // can need an exchange it would have skipped; none of the 109
      // queries' plans gains an exchange or a sort.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // reliable checkpoints (resolveClusters every 4th round) are deleted
      // once their RDD is GC'd — without this Spark NEVER removes
      // checkpoint files, which on the tmpfs default dir means RAM-backed
      // data accumulating across queries
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
  }

  /** Local session sized from an env-provided cpu count (driver contract).
    * Shuffle partitions = 4× cores: keeps per-task sort buffers small
    * enough for the default heap and leaves AQE room to coalesce; the same
    * ratio is what you'd run fleet-wide (partitions ≈ 2-4× total cores).
    */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", 4 * cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    ensureCheckpointDir(s)
    s
  }

  /** Iterative operators ([[graft.text.Dedup.resolveClusters]]) need a
    * reliable checkpoint dir to survive executor loss on a real cluster —
    * without one they fall back to `localCheckpoint`, which kills the job if
    * the caching executor dies. Point it at scratch space by default
    * (override with `SPARK_GRAFT_CHECKPOINT_DIR`; on a cluster set it to the
    * lake scratch path on shared storage).
    */
  def ensureCheckpointDir(s: SparkSession): Unit =
    if (s.sparkContext.getCheckpointDir.isEmpty) {
      // prefer tmpfs locally: reliable-checkpoint writes land on the shuffle
      // path every iteration, and the sandbox's virtio disk adds ±30%
      // writeback noise (BASELINE.md §4) that would measure the box
      val fallback =
        if (new java.io.File("/dev/shm").canWrite) "/dev/shm/graft-ckpt"
        else s"${System.getProperty("java.io.tmpdir")}/graft-ckpt"
      val dir = sys.env.getOrElse("SPARK_GRAFT_CHECKPOINT_DIR", fallback)
      // per-app UUID subdirs survive JVM exit (the in-app cleaner above
      // can't help a killed/finished app) — sweep stale ones from OUR
      // managed default so tmpfs doesn't fill across bench runs. Never
      // sweeps a user-provided SPARK_GRAFT_CHECKPOINT_DIR (could be shared
      // cluster scratch). Staleness = no fresh HEARTBEAT: dir mtime alone
      // is not liveness — a sibling JVM mid-GP-search can legitimately go
      // 30+ min without writing a checkpoint, and sweeping its reliable
      // checkpoints would break the exact recovery path they exist for.
      // Every live session touches `.graft-heartbeat` in its own subdir
      // every 5 min (daemon timer below); the sweep only deletes subdirs
      // whose heartbeat (or, for foreign/crashed dirs without one, mtime)
      // is older than 30 min.
      if (!sys.env.contains("SPARK_GRAFT_CHECKPOINT_DIR")) {
        val root = new java.io.File(dir)
        val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
        Option(root.listFiles()).getOrElse(Array.empty)
          .filter { f =>
            val hb = new java.io.File(f, ".graft-heartbeat")
            f.isDirectory &&
              (if (hb.exists()) hb.lastModified() < cutoff
               else f.lastModified() < cutoff)
          }
          .foreach(f => scala.reflect.io.Directory(f).deleteRecursively())
      }
      s.sparkContext.setCheckpointDir(dir)
      // heartbeat for OUR checkpoint subdir (setCheckpointDir appended a
      // per-app UUID): touch now + every 5 min from a daemon timer, so a
      // later-starting JVM's sweep sees this session as alive however long
      // it goes between checkpoint writes
      s.sparkContext.getCheckpointDir
        .map(java.net.URI.create)
        // local-fs dirs only: the sweep above only ever touches the managed
        // local default, and a cluster checkpoint dir (hdfs:/...) has no
        // local heartbeat to keep
        .filter(u => u.getScheme == null || u.getScheme == "file")
        .foreach { cdUri =>
        val cd = new java.io.File(cdUri.getPath)
        val hb = new java.io.File(cd, ".graft-heartbeat")
        // first touch may create the dir (setCheckpointDir just made it);
        // periodic touches must NOT resurrect a dir another sweep removed
        def touch(create: Boolean): Unit =
          try {
            if (create) hb.getParentFile.mkdirs()
            if (hb.getParentFile.exists() && !hb.createNewFile())
              hb.setLastModified(System.currentTimeMillis())
          } catch { case _: java.io.IOException => () }
        touch(create = true)
        val t = new java.util.Timer("graft-ckpt-heartbeat", true)
        t.scheduleAtFixedRate(new java.util.TimerTask {
          override def run(): Unit = touch(create = false)
        }, 5L * 60 * 1000, 5L * 60 * 1000)
        // a stopped session must stop advertising liveness, or its dead
        // checkpoint dir would never be swept and each session would leak
        // a timer thread
        s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
            t.cancel()
        })
      }
    }
}
