package ballista_extensions_spark.jvm;

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
 * The {@code file:} FileSystem with checksums, whose chmod is a syscall.
 *
 * <p>Without libhadoop, {@link RawLocalFileSystem#setPermission} forks
 * {@code chmod} for every file and directory it creates. Here the nine
 * rwx bits are set with {@link Files#setPosixFilePermissions}; a mode
 * with the sticky bit still takes Hadoop's own path. {@code rename} onto
 * an existing file returns false, as Hive's ProxyLocalFileSystem (the
 * {@code file:} class on PySpark's class path) does.
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    return !pathToFile(dst).isFile() && super.rename(src, dst);
  }

  static final class Raw extends RawLocalFileSystem {
    // OWNER_READ ... OTHERS_EXECUTE: the bits 0400 ... 0001, in order
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          bits.add(BITS[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }
  }
}
