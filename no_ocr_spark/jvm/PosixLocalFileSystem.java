// The file:// FileSystem with in-process chmod. Without libhadoop, Hadoop's
// RawLocalFileSystem.setPermission forks a `chmod` for every file, `.crc`
// sidecar and directory it creates; Raw applies the same (post-umask) mode
// with java.nio instead. The LocalFileSystem wrapper keeps the `.crc`
// sidecars and checksum verification. Build (from the repo root):
//   d=$(mktemp -d) && javac --release 17 -cp "$SPARK_HOME/jars/*" -d "$d" no_ocr_spark/jvm/*.java && jar --create --file no_ocr_spark/jvm/no-ocr-spark.jar -C "$d" .
package no_ocr_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class PosixLocalFileSystem extends LocalFileSystem {
  public PosixLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();
    private static final int STICKY = 01000;

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & STICKY) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // BITS runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bits 0400 .. 0001
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (UnsupportedOperationException noPosixView) {
        super.setPermission(p, permission);
      }
    }
  }
}
