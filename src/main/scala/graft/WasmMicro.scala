package graft

/** Scratch microbenchmark for the WASM interpreter hot loop (not part of
  * the library surface): invokes the l2norm guest over a 64-f64 payload
  * in a tight loop and prints ns/invoke + ns/op estimates.
  */
object WasmMicro {
  def main(args: Array[String]): Unit = {
    val guest = new graft.udf.wasm.WasmModule(graft.queries.WasmOps.l2normModuleForBench)
    val bb = java.nio.ByteBuffer.allocate(8 * 64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (1 to 64).foreach(i => bb.putDouble(i.toDouble))
    val payload = bb.array()
    val n = args.headOption.map(_.toInt).getOrElse(2000)
    val nThreads = args.lift(1).map(_.toInt).getOrElse(1)
    val bytes = graft.queries.WasmOps.l2normModuleForBench
    var sink = 0L
    (1 to 3).foreach { round =>
      val t0 = System.nanoTime()
      if (nThreads <= 1) {
        var i = 0
        while (i < n) {
          guest.writeMemory(0, payload)
          sink ^= guest.invoke("l2norm", 64L).get
          i += 1
        }
      } else {
        val ts = (1 to nThreads).map { _ =>
          new Thread(() => {
            val g = new graft.udf.wasm.WasmModule(bytes)
            var i = 0
            while (i < n) {
              g.writeMemory(0, payload)
              g.invoke("l2norm", 64L).get
              i += 1
            }
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      val dt = System.nanoTime() - t0
      val per = dt / (n.toLong * math.max(1, nThreads))
      println(f"round $round: ${dt / 1e6}%.1f ms wall, $per%d ns/invoke-per-thread (~${per / 1700}%d ns/op) sink=$sink")
    }
  }
}
