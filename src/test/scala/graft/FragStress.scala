package graft

/** Multi-threaded stress harness for the Frag wire format, the
  * hand-rolled `DataOutput` payload codec in `MstrJoinPipeline.Frag`
  * (Test/runMain graft.FragStress): hammers Frag.of/Frag.read
  * from many threads with the real payload classes, interleaving
  * writes and reads per thread, and fails loudly on any round-trip
  * mismatch or deserialization error. Measurement-only tooling.
  */
object FragStress {
  def main(args: Array[String]): Unit = {
    import graft.mstr.MstrJoinPipeline._
    val threads = if (args.length > 0) args(0).toInt else 16
    val iters = if (args.length > 1) args(1).toInt else 200000
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    // cross-thread exchange: blobs written by one thread are read by
    // whichever thread polls them next (the shuffle shape), so any
    // state a codec shared across threads would surface as a mismatch
    val xchg = new java.util.concurrent.ConcurrentLinkedQueue[(AnyRef, AnyRef)]()
    val t0 = System.nanoTime()
    (1 to threads).foreach { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = 0
          val buf = scala.collection.mutable.ArrayBuffer.empty[AnyRef]
          while (i < iters) {
            val payload: java.io.Serializable = (i % 4) match {
              case 0 => AttrReq(s"r$t-$i", i, i, s"official$i", s"nds$i",
                s"f$i.html", s"a$i", s"ds$i")
              case 1 => MetricReq(s"r$t-$i", i, Seq(i, i + 1), s"ds$i",
                s"m$i", s"f$i.html", s"a$i", Some(s"id$i"), List(s"p$i"))
              case 2 => DsReq(s"r$t-$i", i, s"ds$i", s"id$i",
                s"f$i.html", s"src$i", s"full$i")
              case 3 => FactReq(s"r$t-$i", i, Seq(i), s"f$i.html", s"a$i")
            }
            val f = if (i % 2 == 0) Frag.of(s"rid$i", payload)
                    else Frag.req(Frag.KAttr, s"file$i", payload)
            buf += payload.asInstanceOf[AnyRef]
            // interleave: read back a random earlier frag sometimes,
            // always read the current one
            try {
              val back = Frag.read(f)
              if (back != payload) {
                errs.incrementAndGet()
                println(s"MISMATCH thread=$t i=$i: $back vs $payload")
              }
              // publish for a DIFFERENT thread to read, and read one
              // published by whoever got there first
              xchg.add((payload.asInstanceOf[AnyRef], f))
              val other = xchg.poll()
              if (other != null) {
                val (op, of_) = other
                val ob = Frag.read(of_.asInstanceOf[Frag])
                if (ob != op) {
                  errs.incrementAndGet()
                  println(s"XMISMATCH thread=$t i=$i: $ob vs $op")
                }
              }
            } catch {
              case e: Throwable =>
                errs.incrementAndGet()
                println(s"ERROR thread=$t i=$i: ${e.getClass.getName}: ${e.getMessage}")
            }
            i += 1
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"FRAGSTRESS threads=$threads iters=$iters errors=${errs.get()} in $dt%.1f s " +
      f"(${threads.toLong * iters / dt}%.0f ops/s)")
    if (errs.get() > 0) sys.exit(1)
  }
}
