package flinkexp;

import java.io.IOException;
import java.nio.file.Files;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system whose raw layer sets permissions
 * with chmod(2) through java.nio. Without the native Hadoop library the
 * stock RawLocalFileSystem forks chmod(1) for every file create and mkdirs.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      try {
        int old = (Integer) Files.getAttribute(file, "unix:mode");
        // chmod(1) with a four-digit octal mode keeps a directory's
        // setuid and setgid bits and clears them on a file
        int kept = (old & 0170000) == 0040000 ? old & 06000 : 0;
        Files.setAttribute(file, "unix:mode", kept | (permission.toShort() & 01777));
      } catch (UnsupportedOperationException | IllegalArgumentException e) {
        super.setPermission(p, permission);
      }
    }
  }
}
