package graft.extract

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Partition
import graft.sinks.Fs

/** A crash inside a prune, after its tile deletes and before it drops
  * the directories they emptied, leaves bare `partition_size=` and
  * `start_partition=` directories with no stale tile under them. The
  * next prune still drops them, and nothing else.
  */
class PruneLeftoverSpec extends AnyFunSuite {

  private val conf = new Configuration()

  test("prune drops the empty intermediate directories a crashed prune left") {
    val t = Files.createTempDirectory("graft-prune").toString
    val tile = Partition(4096, 0, 4096)
    Fs.writeString(s"$t/${tile.relativePath}/part-00000.parquet", "stub", conf)
    val bare = Seq("partition_size=1024/start_partition=0", "partition_size=1024/start_partition=1024",
      "partition_size=256", "partition_size=4096/start_partition=8192")
    bare.foreach(d => Files.createDirectories(Paths.get(t, d)))

    assert(MetadataSink.pruneStalePartitions(t, Seq(tile), conf).isEmpty)
    Seq("partition_size=1024", "partition_size=256",
      "partition_size=4096/start_partition=8192").foreach { d =>
      assert(!Files.exists(Paths.get(t, d)), d)
    }
    assert(Files.exists(Paths.get(t, tile.relativePath, "part-00000.parquet")))
  }
}
