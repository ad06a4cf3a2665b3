/*
 * Hadoop's local file: FileSystem without the child processes.
 *
 * Without libhadoop, Hadoop 3.4's RawLocalFileSystem forks `chmod` in
 * setPermission (every file create and directory make) and `readlink`
 * in getFileLinkStatus (every FileContext rename, i.e. every streaming
 * offset/commit/source log entry). Each fork costs milliseconds. The
 * classes below do the same two things in-process with java.nio and
 * inherit everything else, so the files, their modes and their .crc
 * checksums stay what the stock classes write. One read differs on
 * purpose: FileContext's one-argument open verifies the .crc here,
 * where stock skips it (see Checksummed.open).
 *
 *   z316.fs.LocalFs              fs.file.impl (FileSystem API)
 *   z316.fs.LocalFs$Checksummed  fs.AbstractFileSystem.file.impl (FileContext API)
 *
 * session.get_spark puts localfs.jar on the driver classpath and sets
 * both keys. Build (JDK 17 javac; localfs.jar is committed so a session
 * needs no compiler), from this directory:
 *
 *   javac --release 17 -cp <pyspark>/jars/hadoop-client-api-3.4.2.jar -d <out> LocalFs.java
 *   jar cf localfs.jar -C <out> .
 *
 * tests/test_plan_properties.py recompiles this file and checks that
 * every class file equals its entry in localfs.jar.
 */
package z316.fs;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/** LocalFileSystem (checksummed: writes and verifies .crc files) over {@link Raw}. */
public class LocalFs extends LocalFileSystem {
  public LocalFs() {
    super(new Raw());
  }

  /** RawLocalFileSystem with its two forking methods done in-process. */
  public static class Raw extends RawLocalFileSystem {
    /**
     * Stock: `chmod %04o <canonical path>`. The numeric mode carries the
     * sticky bit; like chmod(1), a directory keeps its set-user-ID and
     * set-group-ID bits (FsPermission has neither).
     */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      java.nio.file.Path path = pathToFile(p).toPath();
      int mode = permission.toShort();
      if (Files.isDirectory(path)) {
        mode |= (Integer) Files.getAttribute(path, "unix:mode") & 06000;
      }
      Files.setAttribute(path, "unix:mode", mode);
    }

    /**
     * Stock getFileLinkStatus on its default (deprecated file status)
     * branch, with `readlink <f>` replaced by readSymbolicLink on the
     * same string: the path's toString, so a scheme-qualified path is
     * never a link, exactly as there.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target = readLink(f.toString());
      FileStatus fi;
      try {
        FileStatus fs = getFileStatus(f);
        fi = target.isEmpty() ? fs : new FileStatus(fs.getLen(), false, fs.getReplication(),
            fs.getBlockSize(), fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
            fs.getOwner(), fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        // a dangling link: the target does not exist but the link does
        if (target.isEmpty()) {
          throw e;
        }
        fi = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "",
            new Path(target), f);
      }
      if (fi.isSymlink()) {
        fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), fi.getPath(), fi.getSymlink()));
      }
      return fi;
    }

    /** FileUtil.readLink: the trimmed link target, or "" if not a link. */
    private static String readLink(String f) {
      try {
        java.nio.file.Path link = new File(f).toPath();
        return Files.isSymbolicLink(link) ? Files.readSymbolicLink(link).toString().trim() : "";
      } catch (IOException | InvalidPathException e) {
        return "";
      }
    }
  }

  /** The FileContext twin of {@link LocalFs}: stock LocalFs is ChecksumFs over RawLocalFs. */
  public static class Checksummed extends ChecksumFs {
    public Checksummed(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawDelegate(conf));
    }

    /**
     * Stock FilterFs.open(Path) reads the raw file and skips the .crc
     * check; FileContext.open(Path), which Spark's checkpoint manager
     * uses for offset, commit and source log entries, lands here. Go
     * through the checksummed open(Path, int) as FileSystem.open does.
     */
    @Override
    public FSDataInputStream open(Path f) throws IOException {
      return open(f, getServerDefaults(f).getFileBufferSize());
    }
  }

  /** Stock RawLocalFs, delegating to {@link Raw}. */
  public static class RawDelegate extends DelegateToFileSystem {
    RawDelegate(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false);
    }

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
  }
}
