// file:// for Hadoop without a child process per permission change.
//
// Without libhadoop (the pip-installed PySpark ships none), Hadoop's
// RawLocalFileSystem forks `chmod` to set the mode bits of every file,
// .crc file and directory it creates, and `readlink` in
// getFileLinkStatus. These classes do both through java.nio, in process;
// the files, bytes, .crc files and mode bits stay the same.
// plans/session.get_spark installs them in the JVM it launches.
//
// Built into localfs.jar next to this file (tests/test_localfs.py checks
// that the jar holds exactly these classes):
//   javac --release 17 -cp "<pyspark>/jars/*" -d classes ForkFreeLocalFs.java
//   jar --create --file localfs.jar --date 2000-01-01T00:00:00Z -C classes .
package langchain_callback_parquet_logger_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermissions;
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

public final class ForkFreeLocalFs {
  private ForkFreeLocalFs() {}

  /** RawLocalFileSystem that sets mode bits and tells links apart in process. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if ((permission.toShort() & ~0777) != 0) { // a sticky or setuid bit: java.nio has none
        super.setPermission(p, permission);
        return;
      }
      try {
        Files.setPosixFilePermissions(
            pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
      } catch (UnsupportedOperationException e) { // not a POSIX file system
        super.setPermission(p, permission);
      }
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // for a path that is not a symlink, Hadoop's answer is getFileStatus
      return Files.isSymbolicLink(pathToFile(f).toPath())
          ? super.getFileLinkStatus(f)
          : getFileStatus(f);
    }
  }

  /** fs.file.impl: Raw under the .crc checksum layer, as LocalFileSystem is. */
  public static class Checksummed extends LocalFileSystem {
    public Checksummed() {
      super(new Raw());
    }
  }

  /** fs.AbstractFileSystem.file.impl (FileContext): Raw as Hadoop's LocalFs is built. */
  public static class Context extends ChecksumFs {
    public Context(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new DelegateToFileSystem(
          FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false) {
        // the overrides of Hadoop's RawLocalFs
        @Override
        public int getUriDefaultPort() {
          return -1;
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
          return true;
        }
      });
    }
  }
}
