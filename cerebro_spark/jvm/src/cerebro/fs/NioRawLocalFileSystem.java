package cerebro.fs;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local file system with two calls answered in-process.
 *
 * <p>Without the native {@code libhadoop} (the pip PySpark wheel ships none),
 * {@link RawLocalFileSystem} forks {@code chmod} for every file and directory
 * it creates and {@code readlink} for every link-status lookup, which the
 * FileContext rename of every streaming log write makes.  Here
 * {@code setPermission} uses {@code java.nio} and {@code getFileLinkStatus}
 * returns the plain file status when the path is not a symbolic link.  Every
 * other call, and both calls' unusual cases, stay Hadoop's code.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** {@code BITS[i]} is the POSIX permission of mode bit {@code 1 << i}. */
  private static final PosixFilePermission[] BITS = {
    PosixFilePermission.OTHERS_EXECUTE,
    PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ,
    PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE,
    PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE,
    PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ,
  };

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if ((mode & ~0777) != 0) {
      // sticky and other extended bits: java.nio cannot set them
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
    } catch (UnsupportedOperationException e) {
      // not a POSIX file system
      super.setPermission(p, permission);
    } catch (NoSuchFileException e) {
      throw new FileNotFoundException("File " + p + " does not exist");
    }
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    if (Files.isSymbolicLink(pathToFile(f).toPath())) {
      return super.getFileLinkStatus(f);
    }
    return getFileStatus(f);
  }
}
