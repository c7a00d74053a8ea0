package sparsity;

import java.io.IOException;
import java.nio.file.Files;

import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, except that setPermission changes
 * the mode with one chmod(2) through java.nio. Without libhadoop the stock
 * RawLocalFileSystem forks a chmod process for every file, checksum file and
 * directory it creates; everything else (checksums, rename, listing, reads)
 * is Hadoop's.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  static class Raw extends RawLocalFileSystem {
    private static final int S_IFMT = 0170000, S_IFDIR = 0040000;

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path file = pathToFile(p).toPath();
      int old = (Integer) Files.getAttribute(file, "unix:mode");
      // the modes Hadoop's `chmod %04o` gives: the whole mode, sticky bit
      // included, except that a directory keeps its setuid/setgid bits
      int keep = (old & S_IFMT) == S_IFDIR ? old & 06000 : 0;
      Files.setAttribute(file, "unix:mode", permission.toShort() | keep);
    }
  }
}
