package polario_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed LocalFileSystem, setting permissions through java.nio.
 *
 * Without libhadoop, RawLocalFileSystem.setPermission forks a chmod process,
 * and ChecksumFileSystem.create calls it for every data file and again for
 * its .crc. Here the caller has still applied the umask, and the same nine
 * permission bits are set on the same file, without a fork. Everything else
 * is LocalFileSystem's, apart from the rename rule below.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Refuses to rename onto an existing file, as the FileSystem specification
   * and the file:// class Spark's bundled jars register (Hive's
   * ProxyLocalFileSystem) do; RawLocalFileSystem alone would replace it.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  static class Raw extends RawLocalFileSystem {
    // declaration order is owner, group, others, each read, write, execute:
    // PERMS[i] is mode bit 0400 >> i
    private static final PosixFilePermission[] PERMS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      // NIO cannot set the sticky bit; the stock call can
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < PERMS.length; i++) {
        if ((permission.toShort() & (0400 >> i)) != 0) {
          perms.add(PERMS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException e) {
        super.setPermission(p, permission);  // not a POSIX filesystem
      }
    }
  }
}
