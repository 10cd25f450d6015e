package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.TungstenProbe
import org.apache.spark.unsafe.Platform
import org.scalatest.funsuite.AnyFunSuite

/** Under G1 a graft session cuts broadcasts into blocks below the
  * humongous threshold (GraftSession.builder): `spark.broadcast.blockSize`
  * is min(4 MB, half the G1 region less the byte[] header), in KiB, so
  * no chunk the driver allocates per broadcast is a humongous object.
  * Other collectors keep Spark's default.
  */
class BroadcastBlockSpec extends AnyFunSuite {
  import TestSession._

  private val g1 = ManagementFactory.getGarbageCollectorMXBeans.asScala.exists(_.getName.startsWith("G1"))
  private lazy val region = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    .getVMOption("G1HeapRegionSize").getValue.toLong

  test("the broadcast block is min(4 MB, half the G1 region less the array header), in KiB") {
    val conf = spark.sparkContext.getConf
    if (!g1) assert(!conf.contains("spark.broadcast.blockSize"))
    else {
      val kib = math.min(4096L, (region / 2 - Platform.BYTE_ARRAY_OFFSET) / 1024)
      assert(conf.get("spark.broadcast.blockSize") === s"${kib}k")
      assert(kib * 1024 + Platform.BYTE_ARRAY_OFFSET <= region / 2, "a block's byte[] is humongous")
    }
  }

  test("a broadcast larger than one block is cut into pieces no larger than the block") {
    assume(g1, "the block rule applies under G1 only")
    val block = spark.sparkContext.getConf.getSizeAsKb("spark.broadcast.blockSize") * 1024
    val payload = new Array[Byte]((2 * block).toInt)
    new scala.util.Random(7).nextBytes(payload)
    val b = spark.sparkContext.broadcast(payload)
    try {
      val pieces = TungstenProbe.broadcastPieceBytes(b.id)
      assert(pieces.size >= 2, s"pieces: $pieces")
      assert(pieces.forall(_ <= block), s"pieces: $pieces, block $block")
    } finally b.destroy()
  }
}
