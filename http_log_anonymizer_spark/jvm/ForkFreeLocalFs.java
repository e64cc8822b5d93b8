package hla.localfs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local ("file:") filesystem without subprocesses. Without libhadoop,
 * RawLocalFileSystem runs `chmod` in setPermission and `readlink` in
 * getFileLinkStatus; {@link Raw} does both through java.nio and inherits the
 * rest. {@link Local} (fs.file.impl) and {@link Fs}
 * (fs.AbstractFileSystem.file.impl) are Hadoop's LocalFileSystem and LocalFs
 * over it, so checksums and rename semantics are Hadoop's own.
 */
public final class ForkFreeLocalFs {
  private ForkFreeLocalFs() {}

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) { // java.nio cannot set it
        super.setPermission(p, permission);
        return;
      }
      short mode = permission.toShort();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) { // OWNER_READ = 0400 ...
        if ((mode & (0400 >> bit.ordinal())) != 0) perms.add(bit);
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    /** RawLocalFileSystem's deprecated (default) link status, with its readlink in java.nio. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      FileStatus fi;
      try {
        FileStatus fs = getFileStatus(f);
        fi = target.isEmpty() ? fs : new FileStatus(fs.getLen(), false, fs.getReplication(),
            fs.getBlockSize(), fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
            fs.getOwner(), fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) { // a dangling link, or no such path
        if (target.isEmpty()) throw e;
        fi = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    private static String readLink(File f) {
      try {
        return Files.readSymbolicLink(f.toPath()).toString();
      } catch (IOException | InvalidPathException e) { // not a link, or no such path
        return "";
      }
    }
  }

  public static class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }
  }

  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's RawLocalFs (package-private there) over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
