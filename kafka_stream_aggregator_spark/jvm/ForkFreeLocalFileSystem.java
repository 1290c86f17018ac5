package kafka_stream_aggregator_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's LocalFileSystem (checksums, rename) over a raw filesystem that
 * sets a file's mode with an in-process chmod(2). Without libhadoop, the
 * stock RawLocalFileSystem forks /bin/chmod for every file and directory
 * it creates. Same mode bits, sticky bit included.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new RawLocalFileSystem() {
      @Override
      public void setPermission(Path p, FsPermission permission) throws IOException {
        Files.setAttribute(pathToFile(p).toPath(), "unix:mode", permission.toShort() & 07777);
      }
    });
  }
}
