package ex_aws_firehose_spark.functions;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The {@code file:} filesystem without process forks (see session.py,
 * which compiles it and installs it for local masters).
 *
 * <p>Without {@code libhadoop}, Hadoop's {@link RawLocalFileSystem} runs
 * a {@code chmod} process in {@code setPermission} (once per file and
 * directory it creates) and a {@code readlink} process in
 * {@code getFileLinkStatus} (twice or more per {@code FileContext}
 * rename, i.e. per checkpoint and offset-log commit). {@link Raw} does
 * both in-process with {@code java.nio}, and defers to the stock code for
 * what nio cannot express: modes with bits above {@code 0777} and real
 * symlinks. Everything else, {@code .crc} checksums included, is the
 * stock local filesystem: {@link Local} is the {@code FileSystem}
 * ({@code fs.file.impl}), {@link Checked} its {@code FileContext} twin
 * ({@code fs.AbstractFileSystem.file.impl}).
 */
public final class LocalFs {
  private static final PosixFilePermission[] BITS = PosixFilePermission.values();

  private LocalFs() {}

  /** {@code RawLocalFileSystem} with in-process chmod and link status. */
  public static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
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
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // not a link: the stock code finds an empty readlink and returns this
      if (!Files.isSymbolicLink(pathToFile(f).toPath())) {
        return getFileStatus(f);
      }
      return super.getFileLinkStatus(f);
    }
  }

  /** {@code LocalFileSystem} (checksummed) over {@link Raw}. */
  public static final class Local extends LocalFileSystem {
    public Local() {
      super(new Raw());
    }
  }

  /** {@code RawLocalFs} over {@link Raw}, with {@code RawLocalFs}'s overrides. */
  static final class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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

  /** {@code LocalFs} (checksummed) over {@link RawFs}. */
  public static final class Checked extends ChecksumFs {
    public Checked(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }
}
