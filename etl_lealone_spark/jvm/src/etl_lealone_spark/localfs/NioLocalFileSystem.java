package etl_lealone_spark.localfs;

import org.apache.hadoop.fs.LocalFileSystem;

/** The checksummed local filesystem (fs.file.impl) over NioRawLocalFileSystem. */
public class NioLocalFileSystem extends LocalFileSystem {

  public NioLocalFileSystem() {
    super(new NioRawLocalFileSystem());
  }
}
