package graft

import java.net.URI

import scala.jdk.CollectionConverters._

import graft.model.{Pipeline, PlayerMatchFixture}
import graft.queries.Registry
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem}

/** The engine's file writes start no processes: two weekly star loads
  * (the second merges into the first) and one st05 streaming replay,
  * recorded with JFR's `jdk.ProcessStart` event, show no process
  * started from Hadoop's code. Stock Hadoop without libhadoop forks
  * `chmod` per file create and mkdir and `readlink` per checkpoint
  * rename. */
class NoForkSpec extends SparkSpec {

  test("two star loads and an st05 replay on a GraftSession start no process from Hadoop") {
    val hadoopConf = graftSpark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), hadoopConf).getClass === classOf[LocalFs.Fs],
      "the JVM's cached file: FileSystem was built without GraftSession's keys")
    assert(FileContext.getFileContext(URI.create("file:///"), hadoopConf)
      .getDefaultFileSystem.getClass === classOf[LocalFs.AbstractFs])
    val wh = TempDirs.create("graft-nofork-wh").toString
    val recording = new Recording()
    // Spark's own once-per-JVM page-size probe and its session artifact
    // cleanup may start a process here too; Hadoop must start none
    val byHadoop = try {
      recording.enable("jdk.ProcessStart").withStackTrace()
      recording.start()
      Seq("Bukayo Saka", "Declan Rice").foreach { captain =>
        Pipeline.load(graftSpark, wh,
          Pipeline.buildStar(graftSpark, PlayerMatchFixture.rawInputs(graftSpark, captain)))
      }
      assert(Registry.queries("st05_stream_dedup")(graftSpark, sfDir).count() > 0)
      recording.stop()
      val dump = java.nio.file.Files.createTempFile("graft-nofork", ".jfr")
      try {
        recording.dump(dump)
        RecordingFile.readAllEvents(dump).asScala.collect {
          case e if Option(e.getStackTrace).exists(_.getFrames.asScala
              .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop."))) =>
            e.getString("command")
        }.toSeq
      } finally java.nio.file.Files.delete(dump)
    } finally recording.close()
    assert(byHadoop.size === 0,
      s"${byHadoop.size} processes started by Hadoop: ${byHadoop.distinct.take(5).mkString("; ")}")
    assert(graftSpark.read.parquet(s"$wh/fact_team_match").count() === 1)
  }
}
