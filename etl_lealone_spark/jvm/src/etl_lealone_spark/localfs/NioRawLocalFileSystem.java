package etl_lealone_spark.localfs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem with the calls that spawn a process when
 * libhadoop is not loaded done through java.nio instead: setPermission
 * (stock: {@code chmod}) and the link-status calls (stock: {@code readlink}).
 * Every result equals the stock one; nothing else is overridden.
 */
public class NioRawLocalFileSystem extends RawLocalFileSystem {

  // declared owner r,w,x, group r,w,x, others r,w,x: bit 0400 >> i is MODE_BITS[i]
  private static final PosixFilePermission[] MODE_BITS = PosixFilePermission.values();

  @Override
  public void setPermission(Path p, FsPermission permission) throws IOException {
    java.nio.file.Path path = pathToFile(p).toPath();
    // NIO cannot write a sticky bit, and `chmod 0755` keeps the set-id
    // bits of a directory where NIO would clear them: leave both to chmod
    if (permission.getStickyBit() || hasSetIdBits(path)) {
      super.setPermission(p, permission);
      return;
    }
    Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
    short mode = permission.toShort();
    for (int i = 0; i < MODE_BITS.length; i++) {
      if ((mode & (0400 >> i)) != 0) {
        perms.add(MODE_BITS[i]);
      }
    }
    Files.setPosixFilePermissions(path, perms);
  }

  private static boolean hasSetIdBits(java.nio.file.Path path) throws IOException {
    return Files.isDirectory(path)
        && ((Integer) Files.getAttribute(path, "unix:mode") & 06000) != 0;
  }

  @Override
  public FileStatus getFileLinkStatus(Path f) throws IOException {
    FileStatus fi = linkStatus(f);
    if (fi.isSymlink()) {
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
    }
    return fi;
  }

  @Override
  public Path getLinkTarget(Path f) throws IOException {
    return linkStatus(f).getSymlink();
  }

  /**
   * RawLocalFileSystem.deprecatedGetFileLinkStatusInternal, field by field,
   * quirk included: the link is read at {@code new File(f.toString())}, so a
   * {@code file:}-qualified path is never reported as a link.
   */
  private FileStatus linkStatus(Path f) throws IOException {
    String target = readLink(new File(f.toString()));
    try {
      FileStatus fs = getFileStatus(f);
      if (target.isEmpty()) {
        return fs;
      }
      return new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
          fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(), fs.getOwner(),
          fs.getGroup(), new Path(target), f);
    } catch (FileNotFoundException e) {
      // a dangling link
      if (!target.isEmpty()) {
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      throw e;
    }
  }

  /** FileUtil.readLink: the trimmed target of a link, "" for anything else. */
  private static String readLink(File f) {
    try {
      java.nio.file.Path p = f.toPath();
      return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
    } catch (IOException | InvalidPathException e) {
      return "";
    }
  }
}
