package pysyslog.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * A RawLocalFileSystem that sets permissions through the JDK.  Without
 * libhadoop, RawLocalFileSystem.setPermission forks a chmod process for every
 * file and directory a write creates.  Modes above 0777 (setuid, setgid,
 * sticky) and non-POSIX filesystems still go through super.setPermission.
 */
public class NoForkLocalFileSystem extends RawLocalFileSystem {
  // declared OWNER_READ .. OTHERS_EXECUTE: mode bits 0400 down to 0001
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    int mode = permission.toShort();
    if (mode > 0777) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    for (int i = 0; i < BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(BITS[i]);
      }
    }
    try {
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    } catch (UnsupportedOperationException e) {
      super.setPermission(p, permission);
    }
  }
}
