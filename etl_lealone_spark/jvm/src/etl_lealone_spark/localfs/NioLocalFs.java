package etl_lealone_spark.localfs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.FsConstants;

/**
 * The checksummed FileContext filesystem (fs.AbstractFileSystem.file.impl)
 * over NioRawLocalFs, as org.apache.hadoop.fs.local.LocalFs is over RawLocalFs.
 */
public class NioLocalFs extends ChecksumFs {

  public NioLocalFs(URI theUri, Configuration conf) throws IOException, URISyntaxException {
    super(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf));
  }
}
