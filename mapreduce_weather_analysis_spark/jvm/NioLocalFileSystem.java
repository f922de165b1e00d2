package mapreduce_weather_analysis_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The checksummed local file system, with file modes set in-process.
 *
 * <p>Without a native libhadoop, {@link RawLocalFileSystem#setPermission}
 * forks a {@code chmod} process for every directory, file and {@code .crc}
 * sidecar a write creates. {@link Raw} sets the nine rwx bits through
 * {@link Files#setPosixFilePermissions} instead. A mode with any other bit
 * set (the sticky bit) still goes through the stock fork, so it is kept
 * exactly. Hadoop applies the umask before it calls {@code setPermission}.
 *
 * <p>The class it replaces for {@code file:} is Hive's
 * {@code ProxyLocalFileSystem}, which {@code hive-exec} registers and which
 * differs from {@link LocalFileSystem} in one rule, kept here: a rename onto
 * an existing file returns false.
 */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new Raw());
  }

  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** {@link RawLocalFileSystem} whose {@code setPermission} does not fork. */
  public static class Raw extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = {
      PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
      PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
      PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
      PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (1 << i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        FileNotFoundException fnf = new FileNotFoundException("File " + p + " does not exist");
        fnf.initCause(e);
        throw fnf;
      }
    }
  }
}
