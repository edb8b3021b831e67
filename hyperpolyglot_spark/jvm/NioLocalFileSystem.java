package hyperpolyglot_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local filesystem, with permissions set in process.
 * Without libhadoop, RawLocalFileSystem.setPermission forks a chmod, and
 * every file and directory it creates (data files, their .crc files,
 * commit dirs) is given its mode that way. This one sets the same mode
 * bits with java.nio. A mode with the sticky bit, which java.nio cannot
 * express, still goes to Hadoop's implementation.
 *
 * Its rename is that of the file: filesystem Spark's jars register
 * otherwise (Hive's ProxyLocalFileSystem): it does not replace an
 * existing file, as on HDFS.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !pathToFile(dst).isFile() && super.rename(src, dst);
  }

  /** The unchecksummed filesystem under NioLocalFileSystem. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      String rwx = permission.getUserAction().SYMBOL
          + permission.getGroupAction().SYMBOL
          + permission.getOtherAction().SYMBOL;
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(rwx));
    }
  }
}
