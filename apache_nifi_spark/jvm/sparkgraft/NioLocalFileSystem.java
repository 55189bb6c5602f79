package sparkgraft;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.LinkOption;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.FileTime;
import java.nio.file.attribute.PosixFilePermission;
import java.nio.file.attribute.UserPrincipal;
import java.util.EnumSet;
import java.util.Map;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed {@code file:} FileSystem whose raw layer sets and
 * reads permissions and links through java.nio instead of forking
 * {@code chmod} and {@code readlink} (and {@code ls} for a link's
 * permission), as the stock RawLocalFileSystem does on a host without
 * libhadoop.  Checksums and {@code .crc} sidecars are those of
 * LocalFileSystem.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** The raw {@code file:} FileSystem. */
  public static class Raw extends RawLocalFileSystem {
    private static final String ATTRIBUTES =
        "unix:mode,size,lastModifiedTime,lastAccessTime,isDirectory,isSymbolicLink,owner,group";

    /** The nine rwx bits as chmod(1) sets them; a sticky bit goes to chmod itself. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      PosixFilePermission[] bits = PosixFilePermission.values(); // 0400 first, 0001 last
      Set<PosixFilePermission> set = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < bits.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          set.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), set);
    }

    /** The link itself, as RawLocalFileSystem reports it: a symlink carries
     *  its qualified target and the attributes of what it points to. */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      java.nio.file.Path p = pathToFile(f).toPath();
      Path qualified = new Path(p.toString()).makeQualified(getUri(), getWorkingDirectory());
      Map<String, Object> link = attributes(f, p, LinkOption.NOFOLLOW_LINKS);
      if (!(Boolean) link.get("isSymbolicLink")) {
        return status(link, getDefaultBlockSize(f), null, qualified);
      }
      Path target = new Path(Files.readSymbolicLink(p).toString());
      FileStatus st;
      try {
        st = status(attributes(f, p), getDefaultBlockSize(f), target, f);
      } catch (FileNotFoundException e) { // a dangling link
        st = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "", target, f);
      }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), st.getPath(), target));
      return st;
    }

    private static Map<String, Object> attributes(
        Path f, java.nio.file.Path p, LinkOption... options) throws IOException {
      try {
        return Files.readAttributes(p, ATTRIBUTES, options);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException("File " + f + " does not exist");
      }
    }

    private static FileStatus status(
        Map<String, Object> a, long blockSize, Path symlink, Path path) {
      boolean dir = (Boolean) a.get("isDirectory");
      return new FileStatus((Long) a.get("size"), dir && symlink == null, 1, blockSize,
          ((FileTime) a.get("lastModifiedTime")).toMillis(),
          ((FileTime) a.get("lastAccessTime")).toMillis(),
          new FsPermission((short) ((Integer) a.get("mode") & 01777)),
          ((UserPrincipal) a.get("owner")).getName(), ((UserPrincipal) a.get("group")).getName(),
          symlink, path);
    }
  }

  /** {@code fs.AbstractFileSystem.file.impl}: FileContext over the same raw FileSystem. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's RawLocalFs over {@link Raw}. */
  public static class RawFs extends DelegateToFileSystem {
    public RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1; // no default port for file:///
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true; // a local path may contain ':' and other characters HDFS refuses
    }
  }
}
